"""Corpus-preparation operators: decontamination, chunking, splits,
sampling, vocabulary, quantiles, sessionization (operators/corpus.py +
timeseries.sessionize and its twin sessionize_chunked).  Value-level
correctness is driver/oracle-checked at sf0.01; these tests pin semantics
and edge cases on tiny frames."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.operators import corpus as cp
from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
    sessionize,
    sessionize_chunked,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_counts_and_short_doc(spark):
    train = _docs(
        spark,
        [
            (1, "a b c d e f"),   # shingles: "a b c", "b c d", "c d e", "d e f"
            (2, "x y z w v"),     # none shared with eval
            (3, "a b"),           # shorter than shingle width -> no evidence
        ],
    )
    ev = _docs(spark, [(100, "a b c d q")])  # shingles incl "a b c", "b c d"
    out = {
        r["doc_id"]: r
        for r in cp.contamination_check(train, ev, shingle_n=3).collect()
    }
    assert out[1]["n_sh"] == 4 and out[1]["n_hit"] == 2
    assert out[1]["contamination"] == pytest.approx(0.5)
    assert out[2]["n_hit"] == 0 and out[2]["contamination"] == 0.0
    assert out[3]["n_sh"] == 0 and out[3]["contamination"] is None


def test_chunk_documents_bounds_and_overlap(spark):
    docs = _docs(spark, [(1, " ".join(f"t{i}" for i in range(20)))])
    rows = sorted(
        cp.chunk_documents(docs, chunk_tokens=16, stride=8).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # starts at token 0, 8, 16 (1-based 1, 9, 17)
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2]
    assert rows[0]["n_tokens"] == 16 and rows[0]["chunk_text"].startswith("t0 ")
    assert rows[1]["chunk_text"].startswith("t8 ")  # 50% overlap
    assert rows[2]["n_tokens"] == 4  # 20 - 16 trailing tokens
    assert rows[2]["chunk_text"] == "t16 t17 t18 t19"
    with pytest.raises(ValueError):
        cp.chunk_documents(docs, chunk_tokens=8, stride=9)


def test_hash_split_deterministic_and_dup_consistent(spark):
    docs = _docs(spark, [(i, f"doc number {i}") for i in range(50)] + [(99, "doc number 7")])
    out = cp.hash_split(docs).collect()
    by_id = {r["doc_id"]: r["split"] for r in out}
    # exact duplicates land in the same split regardless of id
    assert by_id[99] == by_id[7]
    # stable across recomputation
    again = {r["doc_id"]: r["split"] for r in cp.hash_split(docs).collect()}
    assert by_id == again
    assert set(by_id.values()) <= {"train", "valid", "test"}


def test_stratified_sample_prefilter_consistency(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 2 else "fr") for i in range(200)],
        "doc_id long, text string, lang string",
    )
    full = cp.stratified_sample(docs, n_per_stratum=5)
    assert full.groupBy("lang").count().rdd.map(tuple).collectAsMap() == {
        "en": 5,
        "fr": 5,
    }
    # the prefiltered scale path returns the same members when every kept
    # rank survives the prefilter (buckets=1 keeps everything)
    same = cp.stratified_sample(docs, n_per_stratum=5, prefilter_buckets=1)
    assert sorted(r["doc_id"] for r in full.collect()) == sorted(
        r["doc_id"] for r in same.collect()
    )


def test_token_vocab_counts(spark):
    docs = _docs(spark, [(1, "a b a"), (2, "a c")])
    out = {r["token"]: r for r in cp.token_vocab(docs).collect()}
    assert out["a"]["count"] == 3 and out["a"]["doc_freq"] == 2
    assert out["b"]["count"] == 1 and out["b"]["doc_freq"] == 1
    assert out["c"]["doc_freq"] == 1


def test_group_quantiles_interpolation(spark):
    # group g: values 0..10 -> p50 = 5, p90 = 9 exactly; group h: [1, 2]
    rows = [("g", float(v)) for v in range(11)] + [("h", 1.0), ("h", 2.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    out = {
        r["grp"]: r
        for r in cp.group_quantiles(df, "v", "grp", qs=(0.5, 0.9)).collect()
    }
    assert out["g"]["q50"] == pytest.approx(5.0)
    assert out["g"]["q90"] == pytest.approx(9.0)
    # interpolated: (2-1)*0.5 -> 1.5
    assert out["h"]["q50"] == pytest.approx(1.5)
    assert out["h"]["q90"] == pytest.approx(1.9)


def test_sessionize_gap_boundary(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10),
        (1, t0 + dt.timedelta(minutes=30), 11),       # exactly gap -> same
        (1, t0 + dt.timedelta(minutes=61), 12),       # > gap -> new session
        (2, t0, 20),                                  # other user independent
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(
            df, key_col="user_id", gap_minutes=30, tiebreak_col="event_id"
        ).collect()
    }
    assert out[10] == 1 and out[11] == 1  # gap == limit does not split
    assert out[12] == 2
    assert out[20] == 1


def test_sessionize_plan_single_shuffle(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1)],
        "user_id long, ts timestamp, event_id long",
    )
    plan = (
        sessionize(df, key_col="user_id", gap_minutes=30, tiebreak_col="event_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # lag + running sum share one per-key window: exactly one exchange
    assert plan.count("Exchange") == 1


def test_sessionize_skew_path_equivalent(spark):
    """Property: the skew-safe twin ``sessionize_chunked`` is
    row-identical to the single-window ``sessionize`` — sessions
    spanning bucket boundaries, timestamp ties at boundaries, multiple
    keys, and bucket spans from shorter than the 30-min gap to longer
    than the data's whole range."""
    import random

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in (1, 2, 3):
        t = t0
        for _ in range(120):
            # gaps cluster near the 30-min threshold; 0-gap makes ties
            t = t + dt.timedelta(
                minutes=rng.choice([0, 0, 1, 5, 29, 30, 31, 90])
            )
            rows.append((user, t, eid))
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    base = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(
            df, key_col="user_id", gap_minutes=30, tiebreak_col="event_id"
        ).collect()
    }
    for span in (600, 1_800, 7_200, 86_400, 10_000_000):
        got = {
            r["event_id"]: r["session_seq"]
            for r in sessionize_chunked(
                df,
                span,
                key_col="user_id",
                gap_minutes=30,
                tiebreak_col="event_id",
            ).collect()
        }
        assert got == base, f"bucket_span_s={span}"


def test_sessionize_skew_fans_hot_key(spark):
    """The twin's row windows partition by (key, bucket) — a hot key's
    rows no longer all hash to one task."""
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i) for i in range(50)],
        "user_id long, ts timestamp, event_id long",
    )
    plan = (
        sessionize_chunked(
            df, 600, key_col="user_id", gap_minutes=30,
            tiebreak_col="event_id",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"hashpartitioning\(user_id#\d+L?, _b#", plan), plan


def test_sessionize_chunked_builds_no_job(spark):
    """Building the twin's plan launches no Spark job: its bucket width
    is the caller's span, not a min/max read of the data."""
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i) for i in range(50)],
        "user_id long, ts timestamp, event_id long",
    )
    sc = spark.sparkContext
    sc.setJobGroup("sessionize-build", "build the sessionize twin's plan")
    try:
        sessionize_chunked(
            df, 600, key_col="user_id", gap_minutes=30,
            tiebreak_col="event_id",
        )._jdf.queryExecution().executedPlan()
    finally:
        sc.setJobGroup("sessionize-build-after", "")
    assert list(sc.statusTracker().getJobIdsForGroup("sessionize-build")) == []


def test_tfidf_top_terms_ranking(spark):
    # "z" appears only in doc 1 (rare -> high idf); "a" is everywhere
    docs = _docs(
        spark,
        [(1, "z z a"), (2, "a b"), (3, "a b")],
    )
    out = cp.tfidf_top_terms(docs, k=1).collect()
    top = {r["doc_id"]: r for r in out}
    assert top[1]["token"] == "z"
    # tf=2, N=3, doc_freq=1 -> 6.0
    assert top[1]["tfidf"] == pytest.approx(6.0)
    # docs 2/3: tie between a (1*3/3=1.0) and b (1*3/2=1.5) -> b wins
    assert top[2]["token"] == "b" and top[3]["token"] == "b"


def test_redact_text_rules_and_order(spark):
    rows = [
        (1, "write bob.smith+x@corp.example.co or see https://a.b/c?d=1 now"),
        (2, "card 1234567890 pin 12345 ok"),  # only the 6+ digit run redacts
        (3, "clean text stays clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", cp.redact_text(F.col("text")).alias("clean")
        ).collect()
    }
    assert out[1] == "write <EMAIL> or see <URL> now"
    assert out[2] == "card <NUM> pin 12345 ok"
    assert out[3] == "clean text stays clean"


def test_pack_documents_boundary_rule(spark):
    # group g: token counts 3, 4, 5 with budget 6:
    # offsets 0, 3, 7 -> packs 0, 0, 1 (doc2 overruns pack 0 — documented)
    rows = [
        (1, "g", "a b c"),
        (2, "g", "a b c d"),
        (3, "g", "a b c d e"),
        (4, "h", "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"], r["n_tokens"])
        for r in cp.pack_documents(df, budget_tokens=6).collect()
    }
    assert out[1] == (0, 0, 3)
    assert out[2] == (0, 3, 4)
    assert out[3] == (1, 7, 5)
    assert out[4] == (0, 0, 1)  # groups pack independently


def test_pack_documents_greedy_hard_cap(spark):
    rows = [
        (1, "g", "a b c"),        # 3 -> pack 0 (fill 3)
        (2, "g", "a b c d"),      # 4 -> 3+4 > 6: pack 1 (fill 4)
        (3, "g", "a b"),          # 2 -> 4+2 = 6 fits: pack 1
        (4, "g", " ".join("x" * 1 for _ in range(9))),  # 9 > budget: own pack
        (5, "g", "a"),            # after oversize: new pack
        (6, "h", "z z z z z z z"),  # 7: oversize alone in its group
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in cp.pack_documents_greedy(df, budget_tokens=6).collect()
    }
    assert out[1] == (0, 0)
    assert out[2] == (1, 0)
    assert out[3] == (1, 4)
    assert out[4] == (2, 0)   # oversize doc opens (and owns) pack 2
    assert out[5] == (3, 0)
    assert out[6] == (0, 0)
    # invariant: no pack except single-oversize exceeds the budget
    from collections import defaultdict

    sizes = defaultdict(int)
    counts = defaultdict(int)
    for r in cp.pack_documents_greedy(df, budget_tokens=6).collect():
        key = (r["source"], r["pack_id"])
        sizes[key] += r["n_tokens"]
        counts[key] += 1
    for key, total in sizes.items():
        assert total <= 6 or counts[key] == 1, (key, total)


def test_pack_documents_greedy_chunked_scan_and_typed_keys(spark):
    """scan_rows caps the per-task pandas frame at O(scan_rows) for
    monolithic groups: hard cap still holds, every doc packs exactly
    once, pack ids stay unique and monotone in doc order (gaps between
    chunks allowed).  Key types follow the input schema — string doc_id +
    int group must survive the Arrow round trip."""
    import random
    from collections import defaultdict

    rng = random.Random(7)
    # one deliberately oversized group: 500 docs, far beyond scan_rows
    rows = [
        (f"d{i:04d}", 1, " ".join("w" for _ in range(rng.randint(1, 9))))
        for i in range(500)
    ] + [("x0", 2, "a b c"), ("x1", 2, "d e")]
    df = spark.createDataFrame(rows, "doc_id string, source int, text string")
    out = cp.pack_documents_greedy(
        df, budget_tokens=16, group_col="source", scan_rows=50
    ).collect()
    assert len(out) == len(rows)  # every doc exactly once
    assert {type(r["doc_id"]) for r in out} == {str}
    assert {type(r["source"]) for r in out} == {int}
    sizes, counts = defaultdict(int), defaultdict(int)
    for r in out:
        key = (r["source"], r["pack_id"])
        sizes[key] += r["n_tokens"]
        counts[key] += 1
    for key, total in sizes.items():
        assert total <= 16 or counts[key] == 1, (key, total)
    # pack ids monotone in doc order within a group (chunk gaps allowed)
    g1 = sorted((r["doc_id"], r["pack_id"]) for r in out if r["source"] == 1)
    packs = [p for _, p in g1]
    assert packs == sorted(packs)
    # chunked and unchunked agree on pack MEMBERSHIP sizes where chunks
    # align (first chunk of 50 docs is bit-identical to the full scan's
    # first 50 docs)
    full = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in cp.pack_documents_greedy(
            df, budget_tokens=16, group_col="source"
        ).collect()
    }
    chunked = {r["doc_id"]: (r["pack_id"], r["pack_offset"]) for r in out}
    for i in range(50):
        assert chunked[f"d{i:04d}"] == full[f"d{i:04d}"]


def test_temperature_sample_budgets_and_determinism(spark, sf_dir):
    """alpha<1 flattens the mixture (minority languages keep a higher
    share than proportional sampling would give); membership is
    deterministic and alpha=1 approximates plain proportional draw."""
    import pyspark.sql.functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.operators.corpus import (
        temperature_sample,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.plans.registry import load

    docs = load(spark, sf_dir, "documents")
    n_by_lang = dict(
        docs.groupBy("lang").count().rdd.map(tuple).collect()
    )
    total = sum(n_by_lang.values())
    kept = temperature_sample(docs, alpha=0.5, target_fraction=0.5)
    k_by_lang = dict(kept.groupBy("lang").count().rdd.map(tuple).collect())
    # overall draw lands near the target (hash uniformity, +-40% slack on
    # a small fixture)
    assert 0.3 * total < sum(k_by_lang.values()) < 0.7 * total
    # flattening: the keep RATE of the smallest language exceeds the
    # biggest language's (sqrt weighting upsamples minorities)
    lo = min(n_by_lang, key=n_by_lang.get)
    hi = max(n_by_lang, key=n_by_lang.get)
    if n_by_lang[lo] < n_by_lang[hi]:  # fixture has a real imbalance
        assert (
            k_by_lang.get(lo, 0) / n_by_lang[lo]
            > k_by_lang.get(hi, 0) / n_by_lang[hi]
        )
    # deterministic: the same call yields the same membership
    again = temperature_sample(docs, alpha=0.5, target_fraction=0.5)
    assert sorted(r[0] for r in kept.select("doc_id").collect()) == sorted(
        r[0] for r in again.select("doc_id").collect()
    )
    # alpha=1 keeps per-group rates roughly equal (proportional draw)
    prop = temperature_sample(docs, alpha=1.0, target_fraction=0.5)
    p_by_lang = dict(prop.groupBy("lang").count().rdd.map(tuple).collect())
    rates = [p_by_lang.get(g, 0) / n for g, n in n_by_lang.items() if n > 20]
    assert max(rates) - min(rates) < 0.35


def test_hll_sketch_accuracy_and_merge(spark):
    """HLL estimate within the theoretical error band, and register
    tables MERGE by per-bucket max: merged halves == whole corpus."""
    import pyspark.sql.functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.operators import sketches as sk

    n = 4000
    df = spark.range(n).select(
        F.lit("g").alias("g"), F.concat(F.lit("item_"), F.col("id")).alias("x")
    )
    est = sk.hll_distinct(df, "x", "g").collect()[0]["estimate_e4"] / 1e4
    assert abs(est - n) / n < 0.25  # ~3.8 sigma at m=256
    # mergeability: max-combine the two halves' registers
    h1 = sk.hll_registers(df.filter(F.col("id") < n // 2), "x", "g")
    h2 = sk.hll_registers(df.filter(F.col("id") >= n // 2), "x", "g")
    merged = (
        h1.unionByName(h2)
        .groupBy("g", "bucket")
        .agg(F.max("register").alias("register"))
    )
    whole = sk.hll_registers(df, "x", "g")
    assert (
        sk.hll_estimate(merged, "g").collect()
        == sk.hll_estimate(whole, "g").collect()
    )


def test_cms_overestimates_never_under(spark):
    """CMS point queries are >= the true count for EVERY item (the
    defining one-sided guarantee) and exact for items with no
    collisions; weighted counting honors weight_col."""
    import pyspark.sql.functions as F

    from amazon_lookout_for_equipment_python_sdk_spark.operators import sketches as sk

    df = spark.range(2000).select(
        F.concat(F.lit("k"), (F.col("id") % 97)).alias("x")
    )
    counters = sk.cms_counters(df, "x", depth=4, width=256)
    probes = df.select("x").distinct()
    est = {
        r["x"]: r["cms_count"]
        for r in sk.cms_estimate(counters, probes, "x", 4, 256).collect()
    }
    true = {r["x"]: r["n"] for r in df.groupBy("x").agg(
        F.count("*").alias("n")).collect()}
    assert all(est[k] >= v for k, v in true.items())
    assert sum(est[k] == v for k, v in true.items()) > len(true) * 0.5
    # weighted: doubling via weight_col doubles every counter
    wdf = df.withColumn("wt", F.lit(2).cast("long"))
    wc = sk.cms_counters(wdf, "x", depth=4, width=256, weight_col="wt")
    west = sk.cms_estimate(wc, probes, "x", 4, 256).collect()
    assert all(r["cms_count"] == 2 * est[r["x"]] for r in west)


def test_bigram_lm_cross_corpus_scoring(spark):
    """LM trained on a reference corpus scores a different corpus:
    in-domain docs get lower cross-entropy than out-of-domain ones, and
    unseen bigrams fall back to the ln(1/V) floor (score still finite)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.lm import (
        bigram_lm,
        doc_cross_entropy,
    )

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id long, text string",
    )
    lp, vocab = bigram_lm(ref)
    probe = spark.createDataFrame(
        [
            (1, "the quick brown fox"),        # all bigrams in-domain
            (2, "zeta xylo qqq wub"),          # every bigram unseen
            (3, "a"),                          # <2 tokens: no bigrams, no row
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in doc_cross_entropy(
            probe, lp, vocab, broadcast_lm=True
        ).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1].n_bigrams == 3 and rows[2].n_bigrams == 3
    assert rows[1].xent < rows[2].xent  # fluent beats gibberish
    import math

    v = vocab.first().v
    floor_xent = -math.floor(math.log(1.0 / v) * 1e4) / 1e4
    assert abs(rows[2].xent - floor_xent) < 1e-9  # exact floor fallback


def test_kmv_sketch_estimate_and_jaccard(spark):
    """KMV: estimate within ~3/sqrt(k) of truth; groups under k exact;
    Jaccard estimate of two overlapping sets lands near the true value;
    the union-of-sketches IS the union's sketch (mergeability)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.sketches import (
        kmv_estimate,
        kmv_jaccard,
        kmv_sketch,
    )

    k = 128
    # group g1: items 0..4999; g2: 2500..7499 (50% overlap, J = 1/3)
    rows = [(f"g1", f"item-{i}") for i in range(5000)] + [
        (f"g2", f"item-{i}") for i in range(2500, 7500)
    ] + [("tiny", f"t-{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "g string, item string")
    sk = kmv_sketch(df, "item", "g", k=k)
    est = {r.g: r.est_distinct for r in kmv_estimate(sk, "g", k=k).collect()}
    assert est["tiny"] == 40.0  # below k: exact
    for g in ("g1", "g2"):
        assert abs(est[g] - 5000) / 5000 < 3 / (k ** 0.5)
    j = kmv_jaccard(
        sk.filter(F.col("g") == "g1"), sk.filter(F.col("g") == "g2"), k=k
    ).first()
    assert j.k_union == k
    assert abs(j.jaccard_est - 1 / 3) < 4 / (k ** 0.5)
    # mergeability: sketch(g1 ∪ g2) == k smallest of (sketch_a ∪ sketch_b)
    merged = (
        sk.filter(F.col("g").isin("g1", "g2"))
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    whole = kmv_sketch(
        df.filter(F.col("g").isin("g1", "g2")).select(
            F.lit("u").alias("g"), "item"
        ),
        "item",
        "g",
        k=k,
    )
    assert {r.h for r in merged.collect()} == {r.h for r in whole.collect()}


def test_normalize_text_unicode_folding(spark):
    """The testdata is ASCII, so pin the unicode path on crafted strings:
    curly quotes/dashes/ellipsis/NBSP fold to ASCII, control chars strip,
    whitespace collapses."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        normalize_text,
    )

    rows = [
        (1, "“quoted” ‘single’ a–b c—d e…"),
        (2, "nb space   and\ttabs\n\nnewlines"),
        (3, "ctl\x00chars\x1fhere"),
        (4, "  already clean  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["norm"]
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("norm")
        ).collect()
    }
    assert got[1] == "\"quoted\" 'single' a-b c-d e."
    assert got[2] == "nb space and tabs newlines"
    assert got[3] == "ctlcharshere"
    assert got[4] == "already clean"


def test_hashed_embedding_bridges_to_ann(spark):
    """The hashing-trick embedding is a usable ANN key: near-identical
    docs land close in cosine, unrelated docs don't; vectors are unit
    norm on the quantization grid."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        hashed_embedding_udf,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and AGAIN"),
        (3, "completely unrelated text about spark query planning internals"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = {
        r["doc_id"]: np.array(r["e"])
        for r in df.select(
            "doc_id", hashed_embedding_udf(dim=32)(F.col("text")).alias("e")
        ).collect()
    }
    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    assert abs(np.linalg.norm(emb[1]) - 1.0) < 0.01  # unit on the grid
    assert cos(emb[1], emb[2]) > 0.9
    assert cos(emb[1], emb[3]) < 0.6


def test_bigram_lm_sentinel_path_matches_token_scan_vocab(spark):
    """The two adaptive shapes of the registered query must be
    bit-identical: sentinel-derived vocabulary (+ persisted LM table) vs
    the direct corpus token scan — including on a corpus with a
    single-token doc, whose token ONLY the sentinel row can carry into
    the bigram table."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.lm import (
        bigram_lm,
        doc_bigram_counts,
        doc_cross_entropy,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the lazy dog sleeps"),
            (3, "unicorn"),  # single token: sentinel-only vocab member
            (4, ""),         # empty: contributes nothing either way
        ],
        "doc_id long, text string",
    )

    def run(big: bool):
        bg = doc_bigram_counts(docs, unigram_sentinels=big)
        lp, vocab = bigram_lm(
            docs, doc_counts=bg, counts_have_sentinels=big, persist=big
        )
        out = doc_cross_entropy(docs, lp, vocab, doc_counts=bg)
        return sorted(
            (r.doc_id, r.n_bigrams, r.xent) for r in out.collect()
        )

    try:
        small, big = run(False), run(True)
    finally:
        spark.catalog.clearCache()
    assert small == big
    # the singleton token must be counted in V on BOTH paths: 10 distinct
    # tokens total
    _, vocab = bigram_lm(docs)
    assert vocab.first().v == 10


def test_cms_depth_beyond_constant_table_refuses(spark):
    """r6 ADVICE: depth > len(_PERM_A) used to index past the 8-entry
    universal-hash tables — element_at returned NULL and rows 8+
    silently collapsed into one NULL cell.  Must raise instead."""
    import pytest

    from amazon_lookout_for_equipment_python_sdk_spark.operators.sketches import (
        cms_counters,
    )

    df = spark.createDataFrame([("a",)], "tok string")
    with pytest.raises(ValueError, match="constant table"):
        cms_counters(df, "tok", depth=9)
    cms_counters(df, "tok", depth=8).collect()  # boundary is fine


def test_epoch_shuffle_reshuffles_deterministically(spark):
    """Per-epoch shuffle: same epoch -> identical assignment; different
    epochs -> different permutations; shards cover the range roughly
    uniformly; assignment survives input re-partitioning (the property
    F.rand(seed) lacks)."""
    docs = spark.range(2_000).select(F.col("id").alias("doc_id"))
    e1 = {r["doc_id"]: (r["shard"], r["sort_key"])
          for r in cp.epoch_shuffle(docs, epoch=1, n_shards=16).collect()}
    e1b = {r["doc_id"]: (r["shard"], r["sort_key"])
           for r in cp.epoch_shuffle(
               docs.repartition(7), epoch=1, n_shards=16).collect()}
    assert e1 == e1b  # partitioning-invariant
    e2 = {r["doc_id"]: (r["shard"], r["sort_key"])
          for r in cp.epoch_shuffle(docs, epoch=2, n_shards=16).collect()}
    assert e1 != e2  # epochs permute differently
    order1 = sorted(e1, key=lambda d: e1[d][1])
    order2 = sorted(e2, key=lambda d: e2[d][1])
    assert order1 != order2
    from collections import Counter

    sizes = Counter(s for s, _ in e1.values())
    assert len(sizes) == 16
    assert max(sizes.values()) < 2_000 / 16 * 1.5  # rough uniformity
    import pytest

    with pytest.raises(ValueError):
        cp.epoch_shuffle(docs, epoch=1, n_shards=0)


def test_epoch_shuffle_writer_composition(spark, tmp_path):
    """The intended writer — repartition(n, shard) +
    sortWithinPartitions(sort_key) + partitionBy(shard) parquet — lands
    every shard as its own directory with rows readable in epoch order,
    and the union of shards is exactly the corpus."""
    docs = spark.range(500).select(F.col("id").alias("doc_id"))
    out = str(tmp_path / "epoch1")
    sh = cp.epoch_shuffle(docs, epoch=1, n_shards=8)
    (
        sh.repartition(8, "shard")
        # leading "shard" matters: the dynamic-partition writer re-sorts
        # each task by partition columns, and that sort is not stable —
        # pre-sorting (shard, sort_key) satisfies it so it never runs
        .sortWithinPartitions("shard", "sort_key")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    assert back.count() == 500
    assert back.select("doc_id").distinct().count() == 500
    import os

    shard_dirs = [d for d in os.listdir(out) if d.startswith("shard=")]
    assert len(shard_dirs) == 8
    # within one shard file, rows are stored in sort_key order
    one = spark.read.parquet(os.path.join(out, shard_dirs[0]))
    rows = [r["sort_key"] for r in one.collect()]
    assert rows == sorted(rows)


def test_epoch_shuffle_feeds_sequence_packing(spark):
    """The training-prep chain: epoch_shuffle -> pack_documents with
    group=shard and order=sort_key builds packs in epoch order,
    byte-identically across re-runs, and a different epoch yields a
    different packing."""
    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (5 + i % 7))) for i in range(120)],
        "doc_id long, text string",
    )

    def packing(epoch):
        sh = cp.epoch_shuffle(docs, epoch=epoch, n_shards=4)
        packed = cp.pack_documents(
            sh, budget_tokens=40, group_col="shard", id_col="sort_key"
        )
        return {r["sort_key"]: (r["shard"], r["pack_id"]) for r in packed.collect()}

    p1 = packing(1)
    assert p1 == packing(1)  # reproducible
    p2 = packing(2)
    assert p1 != p2  # epochs repack differently
    # ~120 docs x ~8 tokens / 40-token budget across 4 shards: >1 pack
    # per shard, and pack ids are dense from 0 within each shard
    by_shard = {}
    for shard, pack in p1.values():
        by_shard.setdefault(shard, set()).add(pack)
    assert len(by_shard) == 4
    for shard, packs in by_shard.items():
        assert packs == set(range(len(packs))), (shard, packs)
        assert len(packs) >= 2


def test_corpus_pipeline_fused_matches_operator_chain(spark):
    """The registered corpus_pipeline's fused single-scan form (digest
    computed once; dedup = window min over digest; split = row-local
    bucket of the same digest) is bit-identical to the generic operator
    composition quality_filter |> dedup_exact |> semi-join |> hash_split
    |> semi-join |> pack_documents it replaced (r8 recompute audit)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        dedup as dd,
        text as tx,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import (
        QUERIES,
    )

    sf_dir = "/root/testdata/sf0.001"
    fused = QUERIES["corpus_pipeline"](spark, sf_dir)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = tx.quality_filter(
        docs,
        min_tokens=20,
        max_stopword_ratio=0.4,
        min_avg_token_len=3.0,
        max_avg_token_len=12.0,
    )
    keep = dd.dedup_exact(q).select(F.col("keep_id").alias("doc_id"))
    surv = q.join(keep, "doc_id", "left_semi")
    train_ids = (
        cp.hash_split(surv.select("doc_id", "text"))
        .filter(F.col("split") == "train")
        .select("doc_id")
    )
    tr = surv.join(train_ids, "doc_id", "left_semi")
    chain = cp.pack_documents(
        tr, budget_tokens=512, group_col="source",
        text_col="text", id_col="doc_id",
    ).select(
        "doc_id", "source", "n_tokens",
        F.col("pack_offset").cast("long").alias("pack_offset"),
        "pack_id",
    )
    a = fused.sort("doc_id").collect()
    b = chain.sort("doc_id").collect()
    assert len(a) > 0 and a == b


# --- pack_documents_chunked / assemble_packs_chunked (r12, verdict #4) ------


@pytest.fixture(scope="module")
def pack_df(spark):
    """3 groups (one NULL) + a null-id row, doc sizes forcing several
    pack boundary crossings per group; ids span several id-buckets at
    bucket_span_ids=10."""
    import pandas as pd

    rows = []
    for g in [None, "a", "b"]:
        for i in range(37):
            rows.append(
                {
                    "doc_id": i * 3,  # gaps — buckets of unequal fill
                    "source": g,
                    "text": " ".join(["w"] * (5 + (i * 7) % 23)),
                }
            )
    rows.append({"doc_id": None, "source": "a", "text": "n u l l i d"})
    pdf = pd.DataFrame(rows)
    pdf["doc_id"] = pdf["doc_id"].astype("Int64")
    return spark.createDataFrame(pdf)


def _rows(df, cols):
    return sorted(
        [tuple(r[c] for c in cols) for r in df.collect()],
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_pack_documents_chunked_equals_plain(spark, pack_df):
    cols = ["doc_id", "source", "n_tokens", "pack_offset", "pack_id"]
    plain = cp.pack_documents(
        pack_df, budget_tokens=64, group_col="source",
        text_col="text", id_col="doc_id",
    )
    twin = cp.pack_documents_chunked(
        pack_df, budget_tokens=64, bucket_span_ids=10,
        group_col="source", text_col="text", id_col="doc_id",
    )
    assert twin.columns == plain.columns
    assert _rows(twin, cols) == _rows(plain, cols)


def test_pack_documents_chunked_monolithic_group(spark):
    """ONE group spanning many buckets — the exact shape the twin
    exists for — stays bit-equal to the plain window."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(500),
            "source": ["only"] * 500,
            "text": [" ".join(["t"] * (3 + i % 17)) for i in range(500)],
        }
    )
    df = spark.createDataFrame(pdf)
    cols = ["doc_id", "source", "n_tokens", "pack_offset", "pack_id"]
    plain = cp.pack_documents(df, budget_tokens=128, group_col="source")
    twin = cp.pack_documents_chunked(
        df, budget_tokens=128, bucket_span_ids=50, group_col="source"
    )
    assert _rows(twin, cols) == _rows(plain, cols)


def test_pack_documents_chunked_rejects_string_id(spark):
    df = spark.createDataFrame(
        [("x", "a", "one two")], "doc_id string, source string, text string"
    )
    with pytest.raises(ValueError, match="numeric id_col"):
        cp.pack_documents_chunked(df, id_col="doc_id")


def test_pack_chunked_guards_only_projected_columns(spark, pack_df):
    """The staging guard checks the (id, group, text) projection the
    twin actually stages — an UNRELATED passenger column named like a
    reserved internal (_m, _c) can never collide and must pass; a
    REFERENCED column under a reserved name still rejects (r12 ADVICE)."""
    passenger = pack_df.withColumn("_m", F.lit(0)).withColumn(
        "_c", F.lit("x")
    )
    cols = ["doc_id", "source", "n_tokens", "pack_offset", "pack_id"]
    plain = cp.pack_documents(
        pack_df, budget_tokens=64, group_col="source",
        text_col="text", id_col="doc_id",
    )
    twin = cp.pack_documents_chunked(
        passenger, budget_tokens=64, bucket_span_ids=10,
        group_col="source", text_col="text", id_col="doc_id",
    )
    assert _rows(twin, cols) == _rows(plain, cols)
    asm = cp.assemble_packs_chunked(
        passenger, budget_tokens=64, bucket_span_ids=10,
        group_col="source", text_col="text", id_col="doc_id",
    )
    assert asm.count() > 0
    # a REFERENCED column under a reserved staging name still rejects
    poisoned = pack_df.withColumnRenamed("text", "_b")
    with pytest.raises(ValueError, match="reserved internal"):
        cp.pack_documents_chunked(
            poisoned, group_col="source", text_col="_b", id_col="doc_id"
        )


def test_assemble_packs_chunked_equals_plain(spark, pack_df):
    cols = ["source", "pack_id", "n_docs", "pack_tokens", "packed_text"]
    plain = cp.assemble_packs(
        pack_df, budget_tokens=64, group_col="source",
        text_col="text", id_col="doc_id",
    )
    twin = cp.assemble_packs_chunked(
        pack_df, budget_tokens=64, bucket_span_ids=10,
        group_col="source", text_col="text", id_col="doc_id",
    )
    assert twin.columns == plain.columns
    assert _rows(twin, cols) == _rows(plain, cols)


# --- gopher_repetition (r12 — the structural Gopher rule family) ------------


def test_gopher_repetition_line_para_and_topgram(spark):
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        gopher_repetition,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                # lines: [a b, a b, c d, e f, e f] -> 4/5 duplicated;
                # paras: 2 distinct -> 0
                "a b\na b\nc d\n\ne f\ne f",
                "unique one\nunique two",
                # whole-paragraph spam: both paras identical
                "x y\nz w\n\nx y\nz w",
            ],
        }
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition(spark.createDataFrame(pdf)).collect()
    }
    d1 = out[1]
    assert d1["n_lines"] == 5 and abs(d1["dup_line_frac"] - 0.8) < 1e-12
    assert abs(d1["dup_line_char_frac"] - 0.8) < 1e-12  # all lines 3 chars
    assert d1["n_paras"] == 2 and d1["dup_para_frac"] == 0.0
    d2 = out[2]
    assert d2["dup_line_frac"] == 0.0 and d2["n_paras"] == 1
    d3 = out[3]
    # 4 lines, all duplicated; 2 identical paragraphs
    assert d3["dup_line_frac"] == 1.0
    assert d3["dup_para_frac"] == 1.0 and d3["dup_para_char_frac"] == 1.0
    # top 2-gram coverage is a fraction in (0, 1]
    for d in out.values():
        assert 0 < d["top_ngram_char_frac"] <= 1.0


def test_gopher_repetition_empty_doc_drops(spark):
    """Contract: a doc with zero units (empty text) emits no row — the
    explode drops it; callers wanting presence left-join back."""
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        gopher_repetition,
    )

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["a b\nc d", ""]})
    got = gopher_repetition(spark.createDataFrame(pdf)).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_gopher_repetition_spam_doc_linear(spark):
    """A 20k-identical-lines spam doc must go through the groupBy path
    (one (doc, unit) row after partial aggregation), not a per-doc
    quadratic HOF — and score dup fractions of 1.0."""
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        gopher_repetition,
    )

    spam = "\n".join(["buy now cheap"] * 20_000)
    pdf = pd.DataFrame({"doc_id": [7], "text": [spam]})
    row = gopher_repetition(spark.createDataFrame(pdf)).collect()[0]
    assert row["n_lines"] == 20_000
    assert row["dup_line_frac"] == 1.0
    assert row["dup_line_char_frac"] == 1.0


def test_pack_documents_chunked_randomized_geometries(spark):
    """Randomized row-for-row equality of the pack twin across bucket
    geometries — random gaps and token counts, a NULL group key, a
    null id, negative ids (floor-division buckets), and a giant single
    bucket (span larger than the whole id range)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(37)
    ids = rng.choice(np.arange(-500, 4_000), size=350, replace=False)
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "source": rng.choice([None, "a", "b", "c"], size=350),
            "text": [
                " ".join(["w"] * int(n))
                for n in rng.integers(1, 40, size=350)
            ],
        }
    )
    pdf["doc_id"] = pdf["doc_id"].astype("Int64")
    pdf.loc[0, "doc_id"] = None
    df = spark.createDataFrame(pdf)

    def vals(out):
        return {
            (r["source"], r["doc_id"]): (
                r["n_tokens"], r["pack_offset"], r["pack_id"]
            )
            for r in out.collect()
        }

    plain = vals(cp.pack_documents(df, budget_tokens=100))
    for span in (7, 100, 1_000, 10_000_000):
        got = vals(
            cp.pack_documents_chunked(
                df, budget_tokens=100, bucket_span_ids=span
            )
        )
        assert got == plain, span


def test_gopher_repetition_null_text_drops(spark):
    """NULL text behaves like empty text: the unit array is null, the
    explode drops the row (same contract as the empty-doc case)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        gopher_repetition,
    )

    df = spark.createDataFrame(
        [(1, "a b\na b"), (2, None)], "doc_id long, text string"
    )
    got = gopher_repetition(df).collect()
    assert [r["doc_id"] for r in got] == [1]
