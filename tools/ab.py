"""Time registered queries on one or more data directories under
bench.py's protocol: the sf0.001 warm-up, the noop drain of
``bench.run_one`` and the rep loop of ``bench.measure`` (clearCache and
a double GC before every rep, min-of-N).

    python tools/ab.py NAME... [--data DIR]... [--reps N]

A NAME is a registered query (``plans.queries.QUERIES``) or the name of
one of the sets below, which expands to its list.  With no ``--data``
the queries run on bench.py's default directory, the sf0.1 test data.
Uses:

- quiet re-confirmation of a few bench rows (one directory);
- a variant A/B: run it on the parent commit and on the change, in
  alternation, and compare the two JSON lines;
- the scaling set: ``ab.py sf1 --data <sf0.1> --data .localdata/sf1``
  (tools/gen_sf1.py builds the 10x fixture from sf0.1); ``ratio``
  well above 10 on a linear-plan query is a super-linear surprise;
- the skew set: ``ab.py skew --data .localdata/sf1 --data
  .localdata/sf1_skew`` (tools/gen_skew.py); ``ratio`` is the skew
  penalty.  A skew-safe twin whose penalty is far above its plain
  form's is a broken claim (BASELINE.md "r9 addendum: Zipfian skew
  A/B").

Prints one JSON line: per query, each directory's ``min`` and raw
``reps``, plus ``ratio`` = last/first min when there are two
directories; a query that fails costs its row (under ``errors``), not
the run.  Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import host_fingerprint, measure, run_one, warm_up  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402

SETS = {
    # the most expensive queries, for sf0.1 -> sf1 scaling factors
    "sf1": [
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
    ],
    # each skew-sensitive plain form next to its skew-safe twin; the
    # twin-less two are measured for degradation.  The ewma and
    # flagship pairs run over resampled grids (span-bounded, skew-
    # insensitive by construction) and lead pairs over deduped hourly
    # buckets, so the restamp pair carries that family's evidence.
    "skew": [
        "sessionize_events",
        "sessionize_events_skew",
        "rolling_zscore_anomalies",
        "rolling_zscore_anomalies_chunked",
        "cusum_drift_flags",
        "cusum_drift_flags_chunked",
        "asof_join_purchases",
        "asof_join_purchases_chunked",
        "positional_restamp",
        "positional_restamp_chunked",
        "rolling_1h_range_frame",
        "rolling_1h_range_frame_chunked",
        "tfidf_top_terms",
        "ngram_jaccard_lsh",
    ],
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--data", action="append", metavar="DIR")
    ap.add_argument("--reps", type=int, default=3)
    opts = ap.parse_args()
    names = list(dict.fromkeys(n for a in opts.names for n in SETS.get(a, [a])))
    unknown = [n for n in names if n not in q.QUERIES]
    if unknown:
        ap.error(f"unknown query or set: {', '.join(unknown)}")
    dirs = opts.data or ["/root/testdata/sf0.1"]
    load_prelaunch = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("ab")
    warm_up(spark, names)
    rows: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            row = {}
            for d in dirs:
                reps = measure(
                    spark, f"{name} {d}", lambda: run_one(spark, d, name),
                    opts.reps,
                )
                row[d] = {"min": min(reps), "reps": reps}
            if len(dirs) == 2:
                row["ratio"] = round(row[dirs[1]]["min"] / row[dirs[0]]["min"], 2)
            rows[name] = row
            print(name, json.dumps(row), file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:500]
    out = {
        "data": dirs,
        "reps": opts.reps,
        "host": host_fingerprint(spark, load_prelaunch),
        "queries": rows,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
