"""Dump formatted physical plans of the headline queries to docs/PLANS.md.

    python tools/plan_audit.py [query ...]

The per-query audit the scale contract demands: every plan shows its
scan pushdown (PushedFilters / ReadSchema), exchange count, whole-stage
codegen spans, and join strategies — reviewed after each operator lands
(the shapes are regression-pinned in tests/test_plan_shapes.py; this
artifact is the human-readable companion)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark
from amazon_lookout_for_equipment_python_sdk_spark.plans import llmops
from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q

#: the plans worth reading: heaviest + one representative per family
AUDIT_QUERIES = [
    "flagship_resample_ffill_rolling",
    "q1_pricing_summary",
    "q6_forecast_revenue",          # the pushdown probe
    "q10_returned_items",
    "star_join_rollup",
    "ngram_jaccard_lsh",
    "minhash_lsh_candidates",
    "simhash_near_pairs",
    "lsh_cosine_topk",
    "ivfpq_adc_topk",
    "bigram_lm_perplexity",
    "rolling_zscore_anomalies",
    "cusum_drift_flags",
    "orders_upsert_merge",
    "cdc_latest_state",
    "corpus_pipeline",
    "bloom_prune_semi_join",
    "duplicate_spans_k20",
    "model_evaluation",
    "model_evaluation_calibrated",
    "semantic_dedup_cells",
    "dsir_select_top",
    "embedding_near_dup",
    "decontam_spans_k20",
    "dedup_near_keep_best",
    "epoch_shuffle_e1",
    "incremental_dedup_batch",
    "q21_waiting_suppliers",
    "q4_order_priority",
    "mad_robust_outliers",
    "contamination_check",
    "rag_chunk_retrieval",
    "perplexity_prune_counts",
    "q15_top_supplier",
    "host_pagerank",  # r14: the link-graph family representative
]


#: queries whose plan is SIZE-ADAPTIVE: the sf0.001 audit captures only
#: the below-crossover recompute path, so `--big` re-audits them with
#: llmops._BIGRAM_PERSIST_BYTES = -1 into docs/PLANS_LARGE.md — the
#: persisted shape that actually runs at 100 TB (r8 verdict #2)
BIG_PATH_QUERIES = [
    "bigram_lm_perplexity",
    "perplexity_prune_counts",
]


def main() -> None:
    argv = sys.argv[1:]
    big = "--big" in argv
    argv = [a for a in argv if a != "--big"]
    partial = bool(argv)
    names = argv or (BIG_PATH_QUERIES if big else AUDIT_QUERIES)
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    if big:
        llmops._BIGRAM_PERSIST_BYTES = -1
    spark = get_spark("plan-audit", cpus=4)
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLANS_LARGE.md" if big else "PLANS.md",
    )
    # explicit names UPDATE their sections in the existing artifact —
    # a full truncating rewrite for one query would silently drop
    # every other audited plan from the doc.  Everything assembles in
    # memory and lands via temp-file + atomic rename: the minutes-long
    # plan build can fail mid-run (typo'd name -> KeyError, Spark
    # error, Ctrl-C), and an early truncating open would leave the
    # artifact gutted.
    if big:
        header = (
            "# Physical-plan audit — ABOVE-crossover (big) paths\n\n"
            "Generated by `python tools/plan_audit.py --big` "
            "(`llmops._BIGRAM_PERSIST_BYTES` set to -1 in-process, "
            "at sf0.001): the "
            "persisted two-traversal shape the size-adaptive "
            "bigram-LM queries take above the ~1 MB scan crossover "
            "— the path that matters at 100 TB, which the default "
            "PLANS.md audit (below the crossover) cannot show.  "
            "Scan budgets pinned in tests/test_plan_shapes.py::"
            "test_bigram_queries_forced_big_path_scan_budget.\n\n"
        )
    else:
        header = (
            "# Physical-plan audit\n\n"
            "Generated by `python tools/plan_audit.py` at sf0.001 "
            "(shapes, not sizes, are the point).  Things to read for:\n"
            "- `PushedFilters` / pruned `ReadSchema` on every parquet "
            "scan\n"
            "- exchange count == the operator's documented shuffle "
            "budget\n"
            "- `*(n)` whole-stage-codegen spans covering the row-local "
            "work\n"
            "- broadcast vs sort-merge choices on each join\n\n"
        )
    sections: "dict[str, str]" = {}
    order: "list[str]" = []
    if partial and os.path.exists(out_path):
        parts = open(out_path).read().split("\n## ")
        for p in parts[1:]:
            nm = p.split("\n", 1)[0].strip()
            sections[nm] = "## " + p.rstrip("\n") + "\n\n"
            order.append(nm)
    for name in names:
        df = q.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if name not in sections:
            order.append(name)
        sections[name] = f"## {name}\n\n```\n{plan}\n```\n\n"
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        n_reuse = len(re.findall(r"\(\d+\) ReusedExchange", plan))
        print(f"{name}: {n_ex} exchanges ({n_reuse} reused)")
    tmp_path = out_path + ".tmp"
    with open(tmp_path, "w") as f:
        f.write(header)
        for nm in order:
            f.write(sections[nm])
    os.replace(tmp_path, out_path)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
