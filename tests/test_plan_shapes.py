"""Physical-plan regression guards: the scale-critical plan shapes the
round-1/2 reviews audited must not silently regress.  Assertions are
deliberately loose (presence of broadcast joins, upper bounds on
exchanges) so Spark-version plan cosmetics don't break them."""

from __future__ import annotations

import time

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark):
    """star_join_rollup: every dimension joins as a broadcast — the fact
    table must not shuffle before its aggregation."""
    plan = _plan(spark, "star_join_rollup")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_stamp_single_point_shuffle(spark):
    """stamp_points: ranges broadcast; the point set shuffles once (the
    final hash agg) — the old distinct-and-rejoin paid ~4."""
    plan = _plan(spark, "range_join_stamp")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_q1_is_two_phase_agg(spark):
    """TPC-H q1 shape: partial agg -> one exchange -> final agg."""
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_positional_restamp_is_keyed(spark):
    """No unpartitioned global window: the row_number must partition by
    the series key (r1 scale-killer)."""
    plan = _plan(spark, "positional_restamp")
    # the window's required sort must include the partition key event_type
    sorts = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith(("+- Sort", ":- Sort", "Sort "))
    ]
    assert any("event_type" in s for s in sorts), plan


def test_jaccard_lsh_no_quadratic_selfjoin(spark):
    """The benched Jaccard never builds the all-pairs inverted-index
    self-join: candidates verify via array_intersect, and the only joins
    are candidate-to-doc lookups.  The verify payload is the 48-bit HASH
    arrays (_ha/_hb), not the string shingle arrays — longs shuffle ~3x
    smaller; a regression to carrying strings shows up as _sha in the
    plan."""
    plan = _plan(spark, "ngram_jaccard_lsh")
    assert "array_intersect" in plan
    assert "_ha" in plan and "_sha" not in plan, plan
    assert "CartesianProduct" not in plan


def test_flagship_windows_are_per_key(spark):
    """flagship resample+ffill+rolling: all window sorts carry the series
    key (no single-partition global window)."""
    plan = _plan(spark, "flagship_resample_ffill_rolling")
    sorts = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith(("+- Sort", ":- Sort"))
    ]
    assert sorts and all("event_type" in s for s in sorts), plan


def test_fused_lsh_paths_shuffle_budget(spark):
    """The fused LSH shapes (signature/vector structs riding through the
    bucket groupBy, verify on carried payloads, no joins back to per-doc
    tables): exactly one CORPUS-sized exchange.  The capped queries add
    one pair-level dedup exchange (candidates only — required for
    correctness when a bucket can be dropped); the uncapped
    embedding_near_dup uses first-matching-band ownership and stays at
    one.  A regression to join-back-and-distinct shows up as extra
    exchanges."""
    for name, max_exchanges in (
        ("ngram_jaccard_lsh", 2),
        ("minhash_lsh_candidates", 2),
        ("simhash_near_pairs", 2),
        ("embedding_near_dup", 1),
    ):
        plan = _plan(spark, name)
        n = plan.count("Exchange hashpartitioning")
        assert 1 <= n <= max_exchanges, (name, n, plan)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_contamination_eval_side_broadcasts(spark):
    """contamination_check: the eval-suite shingle probe must be a
    broadcast join (the eval side is benchmark-sized by contract) and the
    train-side text must never cartesian/sort-merge against it."""
    plan = _plan(spark, "contamination_check")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    # parquet scans keep their pushed source filters (train vs eval split)
    assert "PushedFilters: [IsNotNull(source)" in plan, plan
    # r8 recompute audit: exactly 2 scans (train shingles + eval shingles)
    # — the explode_outer rollup removed the train restore-join and its
    # corpus-sized broadcast of the per-doc aggregate
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_chunk_documents_no_shuffle(spark):
    """chunk_documents is row-local: no exchange besides the (possible)
    input repartition, and the chunk strings come from one higher-order
    transform before the explode."""
    plan = _plan(spark, "chunk_documents")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "Generate posexplode" in plan, plan


def test_tfidf_no_vocabulary_broadcast(spark):
    """tfidf_top_terms must not HINT-broadcast the doc_freq (vocabulary)
    side: at web scale the vocab is 1e8+ tokens and a forced broadcast
    OOMs the driver.  The only legitimate hint is the 1-row corpus-count
    crossJoin.  With auto-broadcast disabled, the token join must plan as
    a shuffle join (Catalyst stays free to adapt at small runtime sizes)."""
    df = entrymod.queries()["tfidf_top_terms"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "tfidf_top_terms")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # token-keyed join present and NOT broadcast; the 1-row N hint is the
    # only broadcast left
    assert plan.count("BroadcastHashJoin") == 0, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_wasserstein_single_histogram_pipeline(spark):
    """Both EMD queries pair subsets with a conditional aggregation, NOT a
    filter-and-self-join — the old shape re-instantiated the whole
    histogram pipeline per subset (r4 halved the scans: 8+ -> 5).  The
    scan count IS the guard: a rejoin regression doubles it."""
    for name in ("wasserstein_rank", "wasserstein_raw_rank"):
        plan = _plan(spark, name)
        assert plan.count("Scan parquet") <= 5, (name, plan)
        assert "SortMergeJoin" not in plan, name


def test_quantized_topk_two_scans(spark):
    """quantized_cosine_topk: the fitted scale is a driver scalar, so the
    plan holds exactly corpus + probe scans (the DataFrame-scale form
    re-ran the max-agg subtree per quantize call: 4 scans)."""
    plan = _plan(spark, "quantized_cosine_topk")
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_corpus_pipeline_single_scan_two_exchanges(spark):
    """The fused prep chain (r8 recompute audit): ONE parquet scan — the
    digest is computed at the scan, dedup's canonical-keep is a window
    min over it, and the split bucket is row-local — so there are no
    joins at all and exactly the two intrinsic exchanges (digest window,
    pack window).  ``text`` must not survive past the first exchange
    (only the 32-char digest shuffles)."""
    plan = _plan(spark, "corpus_pipeline")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # text is pruned from every exchange: the hashpartitioning argument
    # lines carry digest/source keys, never the text column
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, ln


def test_sessionize_events_single_window(spark):
    """sessionize_events: lag, running sum, and the session rollup all
    ride ONE per-user hash partitioning."""
    plan = _plan(spark, "sessionize_events")
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    sorts = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith(("+- Sort", ":- Sort"))
    ]
    assert sorts and all("user_id" in s for s in sorts), plan


def test_ivf_assignment_is_row_local(spark):
    """IVF corpus assignment must stay a row-local Arrow-batched argmax
    (dimension-sequential folds, oracle-bit-identical): neither a rank
    window nor an exchange-paying agg may touch the corpus-sized side
    (the windowed formulation was r4's advice item; max_by still
    exchanged one row per vector; the interpreted HOF argmax measured 2x
    slower than the Arrow batch)."""
    plan = _plan(spark, "ivf_cosine_topk")
    assert "ArrowEvalPython" in plan, plan
    assert "max_by" not in plan, plan
    assert "CartesianProduct" not in plan


def test_bloom_semi_join_prunes_before_shuffle(spark):
    """bloom_prune_semi_join: the one-row bitmap reaches the fact scan as
    a broadcast (no shuffle of lineitem to meet it), the membership test
    stays in codegen (bitwise filter), and the exact semi-join still
    runs after the prune."""
    plan = _plan(spark, "bloom_prune_semi_join")
    assert "BroadcastExchange" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "bit_or" in plan, plan  # bitmap word fold is a real aggregate
    assert "CartesianProduct" not in plan


def test_aqe_skew_join_fires_on_hot_key(spark):
    """The session config promises runtime skew mitigation
    (spark.sql.adaptive.skewJoin.enabled); pin that a hot-key sort-merge
    join actually gets split — 'skew=true' in the final adaptive plan —
    so a config regression can't silently re-serialize hot partitions."""
    from pyspark.sql import functions as F

    n = 400_000
    # 95% of the fact on one key, payload wide enough to cross the
    # skewed-partition threshold once thresholds are lowered for test
    fact = spark.range(n).select(
        F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pay"),
    )
    dim = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # threshold must EXCEED the advisory target or the optimizer
        # declines to split (matches the config docs' guidance)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
    }
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        j = fact.join(dim, "k")
        # hot key 7 (19/20 of the fact) + the id-keyed rows inside dim's range
        want = n * 19 // 20 + len(range(0, 50_000, 20))
        assert len(j.collect()) == want
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import QUERIES

    plan = (
        QUERIES["top3_orders_per_segment"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan


def _unique_doc_scans(df) -> set:
    """Distinct base traversals of documents in a plan: a cached relation
    prints its child FileScan once per reuse with IDENTICAL text, while
    genuine recomputes carry fresh expression IDs — so unique
    FileScan-of-documents lines count real traversals."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        ln.lstrip(" :+-")
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents" in ln
    }


def test_bigram_lm_persist_path_two_corpus_traversals(spark):
    """The scale path (persist=True + unigram sentinels) must cap the
    train+score pipeline at TWO corpus traversals: one builds the cached
    LM table serving lp/c1/vocab, one is the scoring branch — the pre-r6
    shape paid four (twin agg branches ReuseExchange can't canonicalize,
    plus two vocab token scans)."""
    from pyspark.sql import functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.operators.lm import (
        bigram_lm,
        doc_bigram_counts,
        doc_cross_entropy,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    bg = doc_bigram_counts(docs, unigram_sentinels=True)
    lp, vocab = bigram_lm(
        docs, doc_counts=bg, counts_have_sentinels=True, persist=True
    )
    out = doc_cross_entropy(docs, lp, vocab, doc_counts=bg)
    try:
        assert len(_unique_doc_scans(out)) <= 2
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan  # the shared LM cache
    finally:
        spark.catalog.clearCache()


def test_bigram_lm_registered_query_adapts_small_input(spark):
    """At test SF the adaptive shape must stay on the recompute path (no
    cache): every traversal-reducing variant measured 35-60% slower than
    recompute-with-stage-overlap at sf0.1 (A/B table in the query
    docstring)."""
    df = entrymod.queries()["bigram_lm_perplexity"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan, plan


def test_bigram_queries_forced_big_path_scan_budget(spark, monkeypatch):
    """r8 verdict #2: the path that matters at 100 TB — the persisted
    above-crossover shape of the size-adaptive bigram-LM queries — was
    audit-pinned only at the OPERATOR level; the registered queries'
    big path had no pin because every sf0.001 audit sits below the 2 GiB
    crossover.  Setting ``llmops._BIGRAM_PERSIST_BYTES`` to -1 forces the
    big path on the small fixture; pinned budget (unique documents
    traversals — cached relations reprint their child FileScan with
    identical text, genuine recomputes carry fresh expression ids):

    - bigram_lm_perplexity: <= 2 (LM build feeding the cache + scoring)
    - perplexity_prune_counts: <= 3 (scorer's two + the source join;
      the cached grid-bounded (source, xent) counts aggregate keeps the
      threshold branch and the final rollup from re-running the scoring
      traversal — the naive shape measured 5 unique corpus scans)

    Both must show the LM cache (InMemoryTableScan).  Values stay
    bit-identical to the recompute path."""
    from amazon_lookout_for_equipment_python_sdk_spark.plans import llmops

    monkeypatch.setattr(llmops, "_BIGRAM_PERSIST_BYTES", -1)
    try:
        for name, budget in (
            ("bigram_lm_perplexity", 2),
            ("perplexity_prune_counts", 3),
        ):
            df = entrymod.queries()[name](spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            scans = _unique_doc_scans(df)
            assert len(scans) <= budget, (name, len(scans), plan)
            assert "InMemoryTableScan" in plan, (name, plan)
    finally:
        spark.catalog.clearCache()


def test_semantic_dedup_no_corpus_id_join(spark):
    """semantic_dedup: assignment must CARRY the vector (row-local UDF
    projection) rather than joining back on id — exactly one big-to-big
    join in the plan (the within-cell pair comparison)."""
    plan = _plan(spark, "semantic_dedup_cells")
    assert plan.count("SortMergeJoin") <= 1, plan
    assert "CartesianProduct" not in plan


def test_dsir_bucket_models_cached(spark):
    """r7: dsir's two B-row bucket models persist so the scalar totals
    reuse them — 2 cached frames x 2 consumers = 4 InMemoryTableScans;
    losing the cache re-runs the corpus gram explode 5x instead of 3x."""
    plan = _plan(spark, "dsir_select_top")
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_semantic_dedup_single_corpus_scan(spark):
    """r7: the cap decision lives inside the per-cell kernel — exactly
    ONE scan of embeddings, one FlatMapGroupsInPandas, no joins."""
    plan = _plan(spark, "semantic_dedup_cells")
    assert plan.count("embeddings.parquet") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_duplicate_spans_sliver_cached(spark):
    """r7: the phase-2 survivor sliver persists (it feeds the string
    count AND the final semi-join); without it the corpus gram explode
    runs 4x (BASELINE.md r7 stage profile).  r9: the level must be
    DISK_ONLY — the sliver scales with the corpus's duplicate mass, and
    a memory-eligible level invites BlockManager's read-back promotion
    (one heap buffer per spilled block per concurrent task), the exact
    OOM the sf30 probe caught (BASELINE.md r9 addendum)."""
    plan = _plan(spark, "duplicate_spans_k20")
    assert plan.count("InMemoryTableScan") >= 2, plan
    import re

    levels = set(re.findall(r"StorageLevel\([^)]*\)", plan))
    assert levels and all("memory" not in lv.lower() for lv in levels), (
        levels
    )


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _scan_rows(spark, action) -> dict[str, int]:
    """Rows output by each scan node (by node name) over the SQL
    executions ``action`` runs (told apart by a job description), read
    from Spark's SQL status store.  A cached relation's plan shows under
    every scan of it with the same metric, so each metric counts once."""
    store = spark._jsparkSession.sharedState().statusStore()
    tag = f"scan-rows-{time.monotonic_ns()}"
    spark.sparkContext.setJobDescription(tag)
    try:
        action()
    finally:
        spark.sparkContext.setJobDescription(None)
    deadline = time.monotonic() + 60
    while True:  # the status store is fed by the asynchronous listener bus
        new = [e for e in _seq(store.executionsList()) if e.description() == tag]
        if new and all(
            e.completionTime().isDefined() and e.metricValues() is not None for e in new
        ):
            break
        assert time.monotonic() < deadline, "SQL executions did not complete"
        time.sleep(0.05)
    rows: dict[str, int] = {}
    for e in new:
        values, counted = e.metricValues(), set()
        for node in _seq(store.planGraph(e.executionId()).allNodes()):
            if not node.name().startswith("Scan"):
                continue
            for m in _seq(node.metrics()):
                acc = m.accumulatorId()
                if m.name() == "number of output rows" and acc not in counted and values.contains(acc):
                    counted.add(acc)
                    n = int(values.apply(acc).replace(",", ""))
                    rows[node.name()] = rows.get(node.name(), 0) + n
    return rows


def test_density_histogram_queries_scan_count(spark):
    """density_histograms reads its input once for the bounds and once
    for the bin counts, and the totals and the bin grid come from that
    one aggregate: the events table is scanned twice (the evaluation
    chain adds one pass for its flagged buckets), nothing is cached, and
    no query leaves a cache entry behind."""
    from amazon_lookout_for_equipment_python_sdk_spark.plans.registry import load

    n_events = load(spark, SF, "events").count()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name, passes in (
        ("wasserstein_rank", 2),
        ("wasserstein_raw_rank", 2),
        ("model_evaluation", 3),
    ):
        df = entrymod.queries()[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan, (name, plan)
        rows = _scan_rows(spark, df.collect)
        assert rows == {"Scan parquet ": passes * n_events}, (name, rows)
        assert cache.isEmpty(), name


def test_mad_outliers_single_scan_cached_slivers(spark):
    """mad_robust_outliers (r8 recompute audit): the two intrinsic median
    passes reuse the persisted base/dev slivers — every downstream
    consumer reads an InMemoryTableScan (med window, dev build, mad
    window, scored); unpersisted the plan re-scanned events 3x and ran the
    med window twice.  The plan STRING still prints each cached
    relation's FileScan lineage, so pin the cache consumers, not the scan
    count.  (A/B at sf0.1: none 1.48s / both persists 0.65s.)"""
    plan = _plan(spark, "mad_robust_outliers")
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert "CartesianProduct" not in plan


def test_q21_no_fact_self_join(spark):
    """q21_waiting_suppliers: the EXISTS/NOT-EXISTS quantifiers must fold
    into one aggregate + window pass — no lineitem self-join (a second
    lineitem scan would betray one), no sort-merge, no cartesian, and at
    most two fact-side hash exchanges (map-combined agg + reduced okey
    window; the join itself broadcasts at test SF)."""
    plan = _plan(spark, "q21_waiting_suppliers")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan  # +1 name rollup


def test_q4_exists_is_semi_join_with_pushdown(spark):
    """q4_order_priority: the correlated EXISTS compiles to ONE LeftSemi
    join carrying the residual late-shipment predicate — never
    join+distinct (which would duplicate and re-dedup orders) — and the
    quarter window pushes to the orders scan."""
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate,1995-01-01" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_q15_single_fact_scan_via_cached_revenue(spark):
    """q15_top_supplier: the scalar-max subquery must read the PERSISTED
    supplier-sized revenue aggregate, not re-derive the lineitem lineage
    — both consumers (the 1-row max and the equality filter) read
    InMemoryTableScan.  The plan STRING prints the cached relation's
    FileScan lineage per consumer, so pin the cache reads, not the scan
    count (same convention as the MAD pin)."""
    plan = _plan(spark, "q15_top_supplier")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "CartesianProduct" not in plan


def test_pack_chunked_twin_broadcast_offsets_and_keyed_buckets(spark):
    """The pack twin's offset table must join back BROADCAST (it is
    keys x buckets rows) and the corpus window must partition on
    (source, bucket) — the decomposition's whole point (r12, tenth
    routed family)."""
    plan = _plan(spark, "pack_documents_chunked")
    assert "BroadcastHashJoin" in plan, plan
    sorts = [
        ln
        for ln in plan.splitlines()
        if ln.strip().startswith(("+- Sort", ":- Sort", "Sort "))
    ]
    assert any("source" in s and "_b" in s for s in sorts), plan


def test_kmv_jaccard_union_no_sort_merge_join(spark):
    """kmv_corpus_overlap: the sketch-vs-sketch Jaccard merge is a
    union-all + group-by over <= 2k rows (one exchange), NOT the old
    full-outer SortMergeJoin (broadcast-ineligible join type, so it
    paid an exchange + sort per side) — r15 optimization entry."""
    plan = _plan(spark, "kmv_corpus_overlap")
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    # r16 (ADVICE): SMJ-absence alone would pass a regression that adds
    # exchanges without a join — bound the total so the union+group-by
    # merge stays ONE exchange.  Current executed plan: 11 (upstream
    # shingle/distinct/top-k machinery + the single merge exchange); the
    # old full-outer shape paid 2+ more (one exchange + sort per side).
    assert plan.count("Exchange hashpartitioning") <= 11, plan


@pytest.mark.parametrize(
    "name, jobs, hash_exchanges, broadcasts, file_scans",
    [
        # counts of the hand-built two-level scans that keyed_scan
        # replaced, taken with this test's method at sf0.001 and sf0.01
        ("cusum_drift_flags_chunked", 8, 8, 3, 4),
        ("flagship_ffill_chunked", 5, 4, 3, 4),
        ("rolling_zscore_anomalies_chunked", 7, 6, 2, 3),
        ("ewma_chart_chunked", 9, 9, 2, 3),
        ("pack_documents_chunked", 5, 3, 1, 2),
        ("asof_join_purchases_chunked", 6, 5, 1, 4),
        ("positional_restamp_chunked", 5, 3, 1, 2),
    ],
)
def test_keyed_scan_twins_plan_no_larger(
    spark, name, jobs, hash_exchanges, broadcasts, file_scans
):
    """The prefix-scan twins on ``_chunkjoin.keyed_scan`` launch no more
    jobs, and plan no more hash exchanges, broadcast exchanges or file
    scans, than their hand-built scans did (counted in the initial
    physical plan; jobs over one noop drain)."""
    df = entrymod.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sc = spark.sparkContext
    group = f"keyed-scan-shape-{name}"
    sc.setJobGroup(group, "plan-shape census")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(f"{group}-after", "")
    got = (
        len(sc.statusTracker().getJobIdsForGroup(group)),
        plan.count("Exchange hashpartitioning"),
        plan.count("BroadcastExchange"),
        plan.count("FileScan"),
    )
    bound = (jobs, hash_exchanges, broadcasts, file_scans)
    assert all(g <= b for g, b in zip(got, bound)), (got, bound, plan)
