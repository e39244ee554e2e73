"""Repo-wide persist-level contract (r10, verdict #4).

The r9 sf30 probe established the promotion-OOM class (BASELINE.md r9
addendum 2): a persisted frame whose size scales with the CORPUS must
never take a serialized memory-eligible level (MEMORY_AND_DISK /
MEMORY_ONLY) — BlockManager re-promotes spilled blocks on read-back as
whole-block heap buffers across all concurrent tasks, so at cluster
scale the cache that "spills gracefully" instead OOMs the executor.
The r9 sweep fixed six sites by hand; this test turns the rule into a
contract so the next operator added can't silently reintroduce the
class.

Every ``.persist(`` call site in the package must be classified here:

- ``CORPUS``      — the frame scales with the corpus (duplicate mass,
                    contamination mass, digest stream, n-gram pair
                    stream, per-step user sets, per-event slivers).
                    MUST take an explicit ``StorageLevel.DISK_ONLY``.
- ``BOUNDED``     — aggregate/grid/dimension-bounded summary (bin
                    grids, k-row sketches, per-source xent grids,
                    supplier-sized aggregates, per-batch file
                    listings).  Memory levels are fine; any level
                    passes.
- ``ITER_DESER``  — corpus/node-proportional but held at PySpark's
                    deserialized default (bare ``.persist()`` =
                    MEMORY_AND_DISK_DESER, which streams on read-back
                    instead of re-promoting whole serialized blocks —
                    the lower-risk shape; these are also unpersisted
                    every iteration).  MUST stay the bare default: an
                    explicit serialized memory level here would move
                    the site INTO the OOM class.

A site not in the registry fails the test with instructions: classify
it (and if CORPUS, pin it DISK_ONLY) before it lands.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "amazon_lookout_for_equipment_python_sdk_spark"
)

# (relative_path, enclosing_function) -> class
REGISTRY = {
    ("operators/dedup.py", "duplicate_spans"): "CORPUS",
    ("operators/dedup.py", "decontaminate_spans"): "CORPUS",
    ("operators/incremental.py", "incremental_dedup"): "CORPUS",
    ("operators/lm.py", "bigram_lm"): "CORPUS",
    ("operators/timeseries.py", "funnel_steps"): "CORPUS",
    ("plans/anomaly_q.py", "mad_q"): "CORPUS",
    # r14: crawl_chain_gates' decoded-text frame feeds three subtrees
    # (plain rows, html-extraction input, html rejoin side); it holds
    # every gated document's decoded text -> corpus-proportional
    ("plans/corpus_q.py", "_http_capture"): "CORPUS",
    # r14: host_pagerank's link table (one row per anchor, on top of
    # the corpus-wide HTML parse) feeds three subtrees
    ("plans/corpus_q.py", "host_pagerank_q"): "CORPUS",
    # r15: incremental dedup's shared seen-corpus digest frame (one row
    # per shingle occurrence class — corpus-proportional) serves both
    # index consumers when share_digests=True
    ("operators/incremental.py", "dedup_index_frames"): "CORPUS",
    # r15: cms_token_counts' per-token true-count table is vocab-sized
    # (Heaps-law sublinear but corpus-growing) with three consumers
    ("plans/llmops.py", "cms_token_counts_q"): "CORPUS",
    # r15: dsir's per-doc (doc, bucket, cnt) frame — corpus-proportional
    # (docs x <=B rows) — feeds the p model and the scoring branch
    ("plans/llmops.py", "dsir_q"): "CORPUS",
    # r15: tf-idf's per-(doc, term) tf table — corpus-proportional —
    # feeds the doc_freq aggregation and the scoring join
    ("operators/corpus.py", "tfidf_top_terms"): "CORPUS",
    # r15: ngram_jaccard_pairs' per-doc shingle-array frame —
    # corpus-proportional — consumed once per pair side in both the
    # all-pairs and candidate-verify branches
    ("operators/dedup.py", "ngram_jaccard_pairs"): "CORPUS",
    ("operators/dsir.py", "model"): "BOUNDED",
    ("operators/sketches.py", "kmv_sketch"): "BOUNDED",
    # the histogram grid (signals x subsets x bins) feeds the ranking and
    # the plot, persisted for the one call and released before it returns
    ("ml/evaluation.py", "plot_histograms"): "BOUNDED",
    ("plans/llmops.py", "perplexity_prune_q"): "BOUNDED",
    ("plans/relational.py", "q15_q"): "BOUNDED",
    ("streaming/scheduler.py", "_process_batch"): "BOUNDED",
    ("operators/dedup.py", "near_dup_clusters"): "ITER_DESER",
    ("operators/bpe.py", "bpe_train"): "ITER_DESER",
    # r14: pagerank's node/out-weight/rank frames are |hosts|-
    # proportional (orders below the page corpus), stay at the
    # deserialized default, and the rank frame is released every
    # iteration — the textbook ITER_DESER shape
    ("operators/linkgraph.py", "pagerank"): "ITER_DESER",
}

_DISK_ONLY = "StorageLevel.DISK_ONLY"
_SERIALIZED_MEMORY = (
    "StorageLevel.MEMORY_AND_DISK",
    "StorageLevel.MEMORY_ONLY",
    "StorageLevel.MEMORY_AND_DISK_2",
    "StorageLevel.MEMORY_ONLY_2",
)


def _persist_sites():
    """Yield (relpath, line_no, enclosing_def, level_literal) for every
    DataFrame .persist( call in the package.  level_literal is the
    StorageLevel.* token inside the call parens (joined across lines up
    to the closing paren), 'DEFAULT' for a bare .persist(), or
    'UNKNOWN:<arg>' for any other argument shape — a variable holding a
    level is opaque to a static contract (r10 ADVICE: the old extractor
    classified ``.persist(level)`` as DEFAULT, silently passing an
    ITER_DESER entry even if the variable held a serialized memory
    level), so UNKNOWN always fails with classification instructions.
    Occurrences after a ``#`` are comments, not sites."""
    sites = []
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "_persist.py":
            # the explicit persist-REGISTRY module (r12): its
            # ``df.persist(level)`` is a deliberate pass-through for
            # USER batch fns opting into foreach_batch_apply's epoch
            # cleanup — the level decision lives at the caller, outside
            # this package.  Every PACKAGE persist site keeps its
            # literal ``.persist(StorageLevel.X)`` (registering via the
            # chained ``.transform(note_persist)``), so the contract
            # still sees all of them; this file is the one sanctioned
            # variable-level site.
            continue
        lines = p.read_text().splitlines()
        for i, ln in enumerate(lines):
            pos = ln.find(".persist(")
            if pos < 0:
                continue
            hash_pos = ln.find("#")
            if 0 <= hash_pos < pos:
                continue  # commented-out mention, not a call site
            func = "<module>"
            for j in range(i, -1, -1):
                m = re.match(r"\s*def\s+(\w+)", lines[j])
                if m:
                    func = m.group(1)
                    break
            # join forward until the persist call's paren closes
            blob = ln[pos:]
            k = i
            while blob.count("(") > blob.count(")") and k + 1 < len(lines):
                k += 1
                blob += " " + lines[k].strip()
            arg_m = re.search(r"\.persist\(([^)]*)\)", blob)
            arg = (arg_m.group(1) if arg_m else "").strip()
            if arg == "":
                level = "DEFAULT"
            elif re.fullmatch(r"StorageLevel\.\w+", arg):
                level = arg
            else:
                level = f"UNKNOWN:{arg}"
            sites.append(
                (str(p.relative_to(PKG)), i + 1, func, level)
            )
    return sites


def test_every_persist_site_classified_and_leveled():
    sites = _persist_sites()
    assert sites, "extractor found no persist sites — regex broke?"
    problems = []
    seen = set()
    for rel, line_no, func, level in sites:
        key = (rel, func)
        seen.add(key)
        cls = REGISTRY.get(key)
        where = f"{rel}:{line_no} ({func})"
        if level.startswith("UNKNOWN:"):
            problems.append(
                f"{where}: persist argument {level[8:]!r} is not a "
                f"StorageLevel literal — a static contract cannot see "
                f"through a variable.  Inline the StorageLevel.* "
                f"literal at the call site (or make it a bare "
                f".persist()) so the classification is checkable."
            )
        elif cls is None:
            problems.append(
                f"UNCLASSIFIED persist site {where} [{level}] — add it "
                f"to tests/test_persist_levels.py REGISTRY as CORPUS "
                f"(corpus-proportional -> must be DISK_ONLY), BOUNDED "
                f"(aggregate/grid/dim-bounded), or ITER_DESER "
                f"(bare-default iterative)."
            )
        elif cls == "CORPUS" and level != _DISK_ONLY:
            problems.append(
                f"{where}: CORPUS-proportional persist must be "
                f"{_DISK_ONLY}, found {level} — the BlockManager "
                f"read-back promotion OOM class (BASELINE.md r9 "
                f"addendum 2)."
            )
        elif cls == "ITER_DESER" and level in _SERIALIZED_MEMORY:
            problems.append(
                f"{where}: iterative corpus-scaling persist must stay "
                f"the deserialized default (bare .persist()), found "
                f"{level} — a serialized memory level moves it into "
                f"the promotion-OOM class."
            )
    gone = [k for k in REGISTRY if k not in seen]
    for key in gone:
        problems.append(
            f"REGISTRY entry {key} no longer matches any persist site "
            f"— site removed or renamed; update the registry."
        )
    assert not problems, "\n".join(problems)


def test_decontaminate_spans_sliver_disk_only():
    """The r10 flip (verdict #2): the occurrence-mass sliver in
    decontaminate_spans is corpus-proportional on heavily contaminated
    corpora — the last parked member of the promotion-OOM class; pin
    its level exactly as duplicate_spans' sliver is pinned."""
    for _rel, _ln, func, level in _persist_sites():
        if func == "decontaminate_spans":
            assert level == _DISK_ONLY, level
            return
    raise AssertionError("decontaminate_spans persist site not found")
