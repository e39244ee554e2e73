"""Audit the `.count()` bench drain for Catalyst elision (r11).

Root cause found in r11: draining a query through ``.count()`` lets
Catalyst PRUNE every aggregate expression (only group keys survive a
row-count) and then ELIDE the now-unused upstream operators — the r9
cusum A/B's plain side compiled to a bare ``distinct event_type`` with
the whole window pipeline gone, which is why "plain won everywhere".
bench.py was already switched to the noop sink in r6 for exactly this
class; the sf1 and skew harnesses (now tools/ab.py's ``sf1`` and
``skew`` sets) still counted.

This tool makes the hazard visible per query: for each name it compares
the optimized plan of the query AS WRITTEN (what a noop write executes)
against the optimized plan of ``.groupBy().count()`` over it (what the
old drain executed), counting load-bearing operator kinds.  Any kind
whose count DROPS under the count() drain was (partially) elided and
every published number measured through that drain under-measured it.

    python tools/drain_audit.py                 # the harnesses' lists
    python tools/drain_audit.py name1 name2     # specific queries
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402

#: operator kinds whose disappearance means real work was skipped
KINDS = (
    "Window",
    "Join",
    "Generate",
    "Aggregate",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "MapGroups",
    "Sort",
)

#: queries the decade/skew harnesses have published numbers for
DEFAULT = [
    "sessionize_events",
    "sessionize_events_skew",
    "rolling_zscore_anomalies",
    "rolling_zscore_anomalies_chunked",
    "tfidf_top_terms",
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
    "cusum_drift_flags",
    "mad_robust_outliers",
]


def _counts(df) -> dict:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return {k: len(re.findall(rf"\b{k}", plan)) for k in KINDS}


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("drain_audit")
    sf = "/root/testdata/sf0.001"
    out = {}
    for n in names:
        if n not in q.QUERIES:
            out[n] = "UNKNOWN QUERY"
            continue
        df = q.QUERIES[n](spark, sf)
        full = _counts(df)
        counted = _counts(df.groupBy().count())
        dropped = {
            k: (full[k], counted[k])
            for k in KINDS
            if counted[k] < full[k]
        }
        out[n] = {"elided_under_count": dropped, "ok": not dropped}
        flag = "ELIDED" if dropped else "ok"
        print(f"{n:36s} {flag:7s} {dropped if dropped else ''}",
              file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
