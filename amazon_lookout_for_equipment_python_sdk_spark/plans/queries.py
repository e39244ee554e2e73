"""Aggregated query registry — importing each layer registers its queries.

Registry ORDER is part of the driver contract: the driver's correctness
harness evaluates the first ``DRIVER_WINDOW`` (50) registered queries, so
any query lacking a recent green CORRECTNESS row MUST sit inside that
window.  Since r6 the rotation is *derived*, not hand-curated:

- ``last_green.json`` (regenerated by ``tools/gen_last_green.py`` from the
  committed CORRECTNESS_r{N}.json artifacts) records each query's latest
  round with a green driver row.
- Queries are ordered by that round ascending — never-verified and stale
  queries always occupy the front of the window, so with W=50 slots and
  N registered queries every query gets a fresh driver row at least every
  ceil(N/W) rounds.  Ties keep registration order (deterministic).
- ``_FORCE_VERIFY`` maps queries whose *implementation* changed since
  their last green row to the round the change landed; they sort as
  never-verified until a green row at/after that round exists.  The only
  hand-maintained step left is ADDING an entry when code changes —
  removal is forced by tests/test_driver_contract.py the round after the
  green row lands (r8 verdict #1).

tests/test_driver_contract.py enforces the staleness invariant: no query
may go more than ``STALE_ROUNDS`` rounds without a driver row.
"""

from __future__ import annotations

import json
import os

from .registry import ORACLE_SQL, QUERIES, load  # noqa: F401
from . import timeseries_q  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import llmops  # noqa: F401,E402
from . import corpus_q  # noqa: F401,E402
from . import anomaly_q  # noqa: F401,E402
from . import streaming_q  # noqa: F401,E402

DRIVER_WINDOW = 50  # queries the driver's correctness harness checks
STALE_ROUNDS = 3  # max rounds a query may go without a green driver row

# Queries whose implementation changed since their last green driver row.
# They rotate to the front of the window as if never verified.  The clear
# is SELF-ENFORCING since r9: tests/test_driver_contract.py fails when a
# forced entry's green row exists in the newest committed CORRECTNESS
# artifact (it is then stale by definition — gen_last_green already
# reflects it), so a forced entry lives exactly one artifact cycle.
#
# REGISTRY BUDGET POLICY (r8 verdict #6): the driver window holds 50
# slots and STALE_ROUNDS=3, so the registry ceiling is 150 unforced
# queries — and every _FORCE_VERIFY entry burns a slot for a round.
# Each NEW registration must name, in its commit message or docstring,
# the query it retires or the existing composed chain it joins (the
# model_evaluation pattern: one registered row certifying several
# operators' lineage).  test_registry_headroom_bounds_staleness enforces
# the hard bound at import; the policy keeps us from ever reaching it.
# Maps query name -> the round whose code change invalidated its last
# green row (= newest committed artifact + 1 at the time of the change).
# An entry is LIVE while last_green < that round, and STALE (must be
# deleted) the moment a green row at/after it lands — the >= comparison
# is what lets a query verified in round N-1 be changed and re-forced in
# round N without tripping the stale check on its pre-change row.
_FORCE_VERIFY: dict[str, int] = {
    # r11's three forced entries (asof_join_purchases,
    # rolling_zscore_anomalies_chunked, sessionize_events_skew) all
    # earned green r11 rows — cleared (r12).
    # lsh_cosine_topk's r9 `n` param was additive-only and deliberately
    # never forced (registered call passes n=None → identical plan);
    # same for the removal of _bigram_big's env override (registered
    # bigram queries always ran with it unset, so the plan is unchanged).
    #
    # r12's persist-registry refactor (.._persist) appends
    # `.transform(note_persist)` to every library persist site —
    # note_persist RETURNS ITS INPUT UNCHANGED, so the logical plan of
    # every touched query (q15, mad, perplexity_prune, wasserstein,
    # dsir, bigram, dedup/decontam, kmv, funnel...) is the identical
    # Python object; deliberately not forced (the lsh_cosine_topk
    # precedent), and the full 137-ok oracle sweep on r12 HEAD
    # re-confirmed every row anyway.  Likewise the r12 guard_internal
    # entry checks added to the chunked twins: a guard can only RAISE
    # (an immediately-visible red), never alter output values, so the
    # silent-wrong-answer hazard _FORCE_VERIFY exists for cannot arise.
    #
    # r13's forced warc_ingest_roundtrip earned its green r13 row —
    # cleared (r14 verdict #7).
    #
    # r14's forced crawl_chain_gates (robots gate + rates + charset +
    # html extraction fold) and host_pagerank both earned green r14
    # rows — cleared (r15, per r14 verdict #1).
    #
    # r16 rewrote both of these (zscore's sliding frames became running
    # cumsums; the centroid scan stopped fanning out to core count) and
    # their last green rows are r14's: neither is in r15's or r16's
    # artifact.
    "rolling_zscore_anomalies": 17,
    "lang_centroid_components": 17,
    # the sessionize twin is now its own function on the keyed-scan
    # core (sessionize_chunked, 4-day buckets) and its plan changed
    "sessionize_events_skew": 17,
}


def _effective_forced(last: "dict[str, int]") -> set:
    """Entries still awaiting their post-change green row.  An entry whose
    green row already landed (last_green >= forced round) is ignored here
    and flagged stale by tests/test_driver_contract.py."""
    return {n for n, rnd in _FORCE_VERIFY.items() if last.get(n, 0) < rnd}


def _derive_last_green() -> "dict[str, int] | None":
    """Derive the map straight from the committed CORRECTNESS artifacts
    when the repo root is visible (mirrors tools/gen_last_green.py).

    This removes the r6 workflow coupling (ADVICE): landing a new
    artifact used to require regenerating last_green.json in the same
    commit or three contract tests went red — now the rotation derives
    from the artifacts themselves, and the committed JSON is only the
    fallback for installs without the repo-root artifacts."""
    import glob
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    if not files:
        return None
    last: dict[str, int] = {}
    for f in files:
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for name, v in json.load(open(f)).items():
            green = (
                v.get("err") is None
                and bool(v.get("rows_match"))
                and bool(v.get("schema_match", True))
                and bool(v.get("hash_match", True))
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _load_last_green() -> dict[str, int]:
    derived = _derive_last_green()
    if derived is not None:
        return derived
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "last_green.json")
    with open(path) as fh:
        return json.load(fh)


def _reorder() -> None:
    last = _load_last_green()
    reg_index = {n: i for i, n in enumerate(QUERIES)}
    forced = _effective_forced(last)

    def key(name: str) -> tuple[int, int]:
        rnd = 0 if name in forced else last.get(name, 0)
        return (rnd, reg_index[name])

    order = sorted(QUERIES, key=key)
    if len(order) != len(QUERIES):  # survives python -O, unlike assert
        raise RuntimeError("reorder lost/duplicated queries")
    for d in (QUERIES, ORACLE_SQL):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in order if n in snapshot})


_reorder()
