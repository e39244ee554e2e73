"""sf0.1 vs sf1 scaling self-bench of the most expensive queries.

Runs each query at sf0.1 (driver data) and sf1 (tools/gen_sf1.py
fixture, 10x rows with per-copy decorrelation) under the standard bench
protocol (clearCache + double GC, best-of-3) and prints a JSON line with
per-query times (min of 3, and every rep) and the scaling factor
t(sf1)/t(sf0.1).  A factor well above ~10 on a linear-plan query is the
super-linear surprise this exists to catch.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q  # noqa: E402

QUERIES = [
    "ngram_jaccard_lsh",
    "duplicate_spans_k20",
    "kmv_corpus_overlap",
    "simhash_near_pairs",
    "ivf_cosine_topk",
    "minhash_lsh_candidates",
    "bigram_lm_perplexity",
    "lsh_cosine_topk",
    "embedding_near_dup",
    "corpus_pipeline",
    "wasserstein_raw_rank",
    "model_evaluation",
    "model_evaluation_calibrated",
    "semantic_dedup_cells",
    "dsir_select_top",
    "rag_chunk_retrieval",
    "q21_waiting_suppliers",
    "streaming_scd2_replay",
    "streaming_topk_replay",
]

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata",
    "sf1",
)


def main() -> None:
    spark = get_spark("bench_sf1")
    def _drain(df):
        # noop sink, NOT .count() (r11): count lets Catalyst prune
        # aggregate expressions and elide upstream operators (see
        # tools/drain_audit.py — bigram_lm_perplexity, corpus_pipeline
        # and wasserstein_raw_rank in THIS list were partially elided
        # under the old drain; same fix bench.py got in r6).
        df.write.format("noop").mode("overwrite").save()

    for n in QUERIES:  # warm-up
        _drain(q.QUERIES[n](spark, "/root/testdata/sf0.001"))

    def reps3(name, sf_dir):
        ts = []
        for _ in range(3):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.2)
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            _drain(q.QUERIES[name](spark, sf_dir))
            ts.append(round(time.time() - t0, 3))
        return ts

    out = {}
    for n in QUERIES:
        reps01 = reps3(n, SF01)
        reps1 = reps3(n, SF1)
        t01, t1 = min(reps01), min(reps1)
        out[n] = {
            "sf0.1": t01,
            "sf1": t1,
            "factor": round(t1 / t01, 2),
            "reps": {"sf0.1": reps01, "sf1": reps1},
        }
        print(f"{n:30s} sf0.1={t01:7.2f}  sf1={t1:7.2f}  x{t1 / t01:5.2f}",
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
