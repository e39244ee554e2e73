"""Custom stateful streaming operator: online run-compaction (SURVEY
§2.10's ``applyInPandasWithState`` mapping; the streaming twin of the batch
M2 operator ``operators.intervals.compact_runs``).

The batch engine compacts per-timestamp anomaly flags into (start, end)
ranges after the fact; a scheduler emitting per-slot predictions wants the
same ranges ONLINE — a run that spans micro-batches must stay open in
state until a non-flagged point (or a time gap) closes it.  That is
exactly Structured Streaming's arbitrary-stateful-processing contract:
``groupBy(key).applyInPandasWithState`` with one state record per key
holding the currently-open run.

Semantics (mirrors compact_runs, intervals.py):
- rows are processed in event-time order within each batch;
- a run breaks when the flag drops to 0 or the gap to the previous point
  exceeds ``step_seconds``;
- closed runs are emitted append-mode as (key, start, end, n_points);
- the open tail run survives in checkpointed state across batches and
  restarts (exactly-once with a checkpoint location).

Cross-batch ordering: the file-per-slot contract delivers slots in
arrival order per component; rows older than the open run's tail are
counted into the open run only if they extend it — the operator assumes
per-key monotone batch order, like the reference's scheduler does.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# NOTE: the stateful kernels below are MODULE-LEVEL functions closed
# over by the lambdas handed to applyInPandasWithState; they reach
# executors by value because the package root registers itself with
# cloudpickle.register_pickle_by_value (see the package __init__) —
# keep them free of mutable module globals.

#: output schema of the closed-range stream
RANGE_SCHEMA = (
    "key string, start timestamp, end timestamp, n_points long"
)
#: per-key state: open run (start, last_ts, n_points) or nulls
STATE_SCHEMA = "start timestamp, last_ts timestamp, n_points long"


def _compact_batch(key, pdf_iter, state: GroupState, step_seconds: int):
    (key_val,) = key
    if state.exists:
        run_start, last_ts, n_points = state.get
    else:
        run_start = last_ts = None
        n_points = 0
    closed: list[tuple] = []
    # Arrow delivers large groups as MULTIPLE chunks in arbitrary order;
    # sorting each chunk alone would let event time run backwards across
    # chunk boundaries and corrupt the run logic.  A key's per-batch rows
    # are slot-sized by the scheduler contract, so one concat+sort is the
    # correct (and bounded) total order.
    chunks = [pdf for pdf in pdf_iter]
    if chunks:
        whole = pd.concat(chunks, ignore_index=True).sort_values("ts")
        for ts, flag in zip(whole["ts"], whole["flag"]):
            ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            gap_breaks = (
                run_start is not None
                and (ts - last_ts).total_seconds() > step_seconds
            )
            if flag == 1:
                if run_start is None:
                    run_start, last_ts, n_points = ts, ts, 1
                elif gap_breaks:
                    closed.append((key_val, run_start, last_ts, n_points))
                    run_start, last_ts, n_points = ts, ts, 1
                else:
                    # a late cross-batch row inside the open run must not
                    # REWIND last_ts (that would truncate the range end and
                    # make the next on-time row look like a gap break)
                    last_ts = max(last_ts, ts)
                    run_start = min(run_start, ts)
                    n_points += 1
            else:
                if run_start is not None:
                    closed.append((key_val, run_start, last_ts, n_points))
                    run_start, last_ts, n_points = None, None, 0
    if run_start is not None:
        state.update((run_start, last_ts, n_points))
    elif state.exists:
        state.remove()
    if closed:
        yield pd.DataFrame(
            closed, columns=["key", "start", "end", "n_points"]
        )


def streaming_resample_mean(
    stream: DataFrame,
    rate_seconds: int,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "tag",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of the batch A1 resample: event-time tumbling-window
    mean per signal with a REAL watermark — append mode emits a window
    only once the watermark (max event time - allowance) passes its end,
    which is the honest Structured Streaming shape of the scheduler's
    DataDelayOffset late-data allowance (ST3): late rows within the
    allowance still update their window; later ones are dropped by the
    engine."""
    from pyspark.sql import functions as F

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col),
            F.window(F.col(ts_col), f"{rate_seconds} seconds"),
        )
        .agg(F.avg(value_col).alias("avg_value"))
        .select(
            key_col,
            F.col("window.start").alias("bucket_ts"),
            "avg_value",
        )
    )


def compact_runs_stream(
    stream: DataFrame,
    step_seconds: int,
    key_col: str = "component",
    ts_col: str = "timestamp",
    flag_col: str = "prediction",
) -> DataFrame:
    """Wire the online compaction onto a streaming DataFrame: returns the
    append-mode stream of CLOSED anomaly ranges (key, start, end,
    n_points).  Start it with ``.writeStream`` and a checkpoint; open runs
    recover from state after restarts."""
    from pyspark.sql import functions as F

    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(flag_col).cast("int").alias("flag"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        lambda key, it, st: _compact_batch(key, it, st, step_seconds),
        outputStructType=RANGE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup — first arrival of each distinct text wins,
    across micro-batches (the online twin of ``operators.dedup.
    dedup_exact``; an ingest pipeline dedups continuously, not in one
    batch pass).

    State is one row per distinct fingerprint.  With ``ts_col`` +
    ``watermark`` the dedup uses ``dropDuplicatesWithinWatermark`` so the
    fingerprint state EXPIRES once the watermark passes — bounded state,
    the only shape that survives an unbounded corpus stream (duplicates
    arriving further apart than the watermark are kept; that is the
    documented trade).  Without a watermark the state grows with the
    distinct-document count — fine for bounded replays, documented
    unbounded otherwise."""
    from ..operators.text import fingerprint

    out = stream.withColumn("fp", fingerprint(F.col(text_col)))
    if watermark is not None:
        if ts_col is None:
            raise ValueError("watermark requires ts_col")
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fp"]
        ).drop("fp")
    return out.dropDuplicates(["fp"]).drop("fp")


# --- online sessionization --------------------------------------------------

#: output schema of the closed-session stream
SESSION_OUT_SCHEMA = (
    "key string, session_start timestamp, session_end timestamp, "
    "n_events long"
)
#: per-key state: the open session
SESSION_STATE_SCHEMA = "start timestamp, last_ts timestamp, n_events long"


def _epoch_ms(ts) -> int:
    import datetime as _dt

    ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
    # session timestamps are tz-naive UTC (engine convention, SURVEY §1.2);
    # pin the zone explicitly so the epoch doesn't depend on process TZ
    return int(ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)


def _sessionize_batch(key, pdf_iter, state: GroupState, gap_seconds: int):
    (key_val,) = key
    cols = ["key", "session_start", "session_end", "n_events"]
    if state.hasTimedOut:
        # watermark passed last_ts + gap with no new events: the open
        # session can never be extended — close and emit it
        start, last_ts, n_events = state.get
        state.remove()
        yield pd.DataFrame([(key_val, start, last_ts, n_events)], columns=cols)
        return
    start = last_ts = None
    n_events = 0
    if state.exists:
        start, last_ts, n_events = state.get
    closed: list[tuple] = []
    chunks = [pdf for pdf in pdf_iter]
    if chunks:
        # same chunk-ordering hazard as _compact_batch: one global sort
        whole = pd.concat(chunks, ignore_index=True).sort_values("ts")
        for ts in whole["ts"]:
            ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
            if start is None:
                start, last_ts, n_events = ts, ts, 1
            elif (ts - last_ts).total_seconds() > gap_seconds:
                closed.append((key_val, start, last_ts, n_events))
                start, last_ts, n_events = ts, ts, 1
            else:
                last_ts = max(last_ts, ts)
                start = min(start, ts)
                n_events += 1
    if start is not None:
        state.update((start, last_ts, n_events))
        # close the session once the watermark passes its extension window;
        # the timeout must sit strictly beyond the current watermark
        state.setTimeoutTimestamp(
            max(
                _epoch_ms(last_ts) + gap_seconds * 1000,
                state.getCurrentWatermarkMs() + 1,
            )
        )
    elif state.exists:
        state.remove()
    if closed:
        yield pd.DataFrame(closed, columns=cols)


def sessionize_stream(
    stream: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Online gap-based sessionization — the streaming twin of the batch
    ``operators.timeseries.sessionize``: an append-mode stream of CLOSED
    sessions (key, session_start, session_end, n_events).

    A session closes two ways: a newer in-order event arrives with a gap
    over ``gap_minutes`` (emitted in that batch), or the event-time
    watermark passes ``last_ts + gap`` with nothing new (event-time
    timeout — the idle tail sessions a pure gap check would hold open
    forever).  State is one open session per key, checkpointed; restarts
    recover it.

    Scale: state size is O(active keys), not O(events); per batch each
    key's rows move once through an Arrow-batched pandas sort.  The
    watermark bounds both late data and state lifetime — the same
    ST3-style trade documented on ``streaming_dedup_exact``.
    """
    prepared = stream.withWatermark(ts_col, watermark).select(
        F.col(key_col).cast("string").alias("key"), F.col(ts_col).alias("ts")
    )
    return prepared.groupBy("key").applyInPandasWithState(
        lambda key, it, st: _sessionize_batch(key, it, st, gap_minutes * 60),
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- streaming MinHash-LSH near-dup candidates ------------------------------

#: candidate pair stream: (a, b, band)
LSH_PAIR_SCHEMA = "a string, b string, band int"
#: per-(band, bucket) state: member ids + their signatures flattened at
#: num_perm stride (flat longs — avoids nested-array state codecs)
LSH_STATE_SCHEMA = "ids array<string>, sigs array<long>"


def _first_matching_band(sa, sb, bands: int, rpb: int) -> int:
    """The first band whose ``rpb`` rows agree between two signatures —
    the band that owns the pair (``bands`` when none does, unreachable
    for a true bucket collision)."""
    for b in range(bands):
        if sa[b * rpb : (b + 1) * rpb] == sb[b * rpb : (b + 1) * rpb]:
            return b
    return bands


def _lsh_bucket_batch(
    key, pdf_iter, state: GroupState, num_perm: int, bands: int, max_bucket: int
):
    band_val = int(key[0])
    rpb = num_perm // bands
    if state.exists:
        ids, flat = state.get
        ids = list(ids)
        flat = [int(x) for x in flat]
    else:
        ids, flat = [], []
    sigs = [flat[i * num_perm : (i + 1) * num_perm] for i in range(len(ids))]
    out: list[tuple] = []
    for pdf in pdf_iter:
        for doc_id, sig in zip(pdf["doc_id"], pdf["_sig"]):
            sig = [int(x) for x in sig]
            if len(ids) < max_bucket:
                # first-matching-band ownership, recomputed row-local from
                # the two signatures — the exact batch rule, so cross-band
                # duplicate pairs vanish with no global dedup state
                for prev_id, prev_sig in zip(ids, sigs):
                    owner = _first_matching_band(sig, prev_sig, bands, rpb)
                    if owner == band_val:
                        a, b = sorted((str(doc_id), str(prev_id)))
                        out.append((a, b, band_val))
            ids.append(str(doc_id))
            sigs.append(sig)
            flat.extend(sig)
    state.update((ids, flat))
    if out:
        yield pd.DataFrame(out, columns=["a", "b", "band"])


def streaming_minhash_candidates(
    stream: DataFrame,
    num_perm: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 10_000,
) -> DataFrame:
    """Streaming twin of the batch ``dedup.minhash_candidate_pairs``: an
    append-mode stream of LSH candidate near-dup pairs, emitted the moment
    the second member of a colliding (band, bucket) arrives.

    Plan shape mirrors the batch fusion 1:1: signatures and band buckets
    compute row-local on the stream (same md5/permutation arithmetic —
    bit-identical pairs, batch-equivalence pytest-pinned on a replayed
    fixture), the ONLY wide operation is the groupBy on (band, bucket),
    and cross-band duplicates die by the same first-matching-band
    ownership rule recomputed from the two carried signatures — one state
    record per bucket, no global dedup state.

    A bucket at ``max_bucket`` stops emitting NEW pairs but keeps
    recording members.  This deliberately DIVERGES from the batch cap:
    batch ``_expand_bucket_pairs`` drops every pair of an over-cap bucket,
    while an append-mode stream cannot retract pairs it already emitted
    before the bucket crossed the cap.  Consumers that need batch-equal
    semantics under capping must discard all of a bucket's pairs when a
    later micro-batch shows the bucket at ``max_bucket`` (the
    batch-equivalence test therefore pins ``max_bucket=None``-style
    corpora only).  State is O(corpus seen) across the stream's lifetime
    — the honest cost of exact continuous dedup; bolt a
    ProcessingTimeTimeout eviction on when staleness is acceptable."""
    from ..operators.dedup import _band_entries_from_sig, _doc_sig_frame

    sig = _doc_sig_frame(stream, num_perm, shingle_n, text_col, id_col)
    banded = sig.select(
        F.col(id_col).cast("string").alias("doc_id"),
        "_sig",
        F.explode(_band_entries_from_sig(num_perm, bands)).alias("_e"),
    ).select(
        "doc_id",
        "_sig",
        F.col("_e.band").alias("band"),
        F.col("_e.bucket").alias("bucket"),
    )
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        lambda key, it, st: _lsh_bucket_batch(
            key, it, st, num_perm, bands, max_bucket
        ),
        outputStructType=LSH_PAIR_SCHEMA,
        stateStructType=LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming MinHash-LSH VERIFIED near-dup pairs --------------------------

#: verified pair stream — same columns as batch ngram_jaccard_lsh
VERIFIED_PAIR_SCHEMA = (
    "a string, b string, n_common int, n_union int, jaccard double"
)
#: bucket state: members + signatures (fixed stride) + each member's
#: 48-bit shingle-hash array (variable length -> lengths + flat pool)
VERIFY_STATE_SCHEMA = (
    "ids array<string>, sigs array<long>, hlens array<int>, "
    "hashes array<long>"
)


def _lsh_verify_batch(
    key,
    pdf_iter,
    state: GroupState,
    num_perm: int,
    bands: int,
    max_bucket: int,
    thr_millionths: int,
):
    band_val = int(key[0])
    rpb = num_perm // bands
    if state.exists:
        ids, flat, hlens, hpool = state.get
        ids = list(ids)
        flat = [int(x) for x in flat]
        hlens = [int(x) for x in hlens]
        hpool = [int(x) for x in hpool]
    else:
        ids, flat, hlens, hpool = [], [], [], []
    sigs = [flat[i * num_perm : (i + 1) * num_perm] for i in range(len(ids))]
    harrs: list[list[int]] = []
    off = 0
    for ln in hlens:
        harrs.append(hpool[off : off + ln])
        off += ln
    out: list[tuple] = []
    for pdf in pdf_iter:
        for doc_id, sig, ha in zip(pdf["doc_id"], pdf["_sig"], pdf["_h"]):
            sig = [int(x) for x in sig]
            ha = [int(x) for x in ha]
            if len(ids) < max_bucket:
                hset = set(ha)
                for prev_id, prev_sig, prev_h in zip(ids, sigs, harrs):
                    owner = _first_matching_band(sig, prev_sig, bands, rpb)
                    if owner != band_val:
                        continue
                    # exact verify, batch-identical arithmetic:
                    # array_intersect dedups, sizes count raw arrays
                    n_common = len(hset & set(prev_h))
                    n_union = len(ha) + len(prev_h) - n_common
                    if n_common * 1_000_000 >= thr_millionths * n_union:
                        a, b = sorted((str(doc_id), str(prev_id)))
                        out.append(
                            (a, b, n_common, n_union, n_common / n_union)
                        )
            ids.append(str(doc_id))
            sigs.append(sig)
            flat.extend(sig)
            harrs.append(ha)
            hlens.append(len(ha))
            hpool.extend(ha)
    state.update((ids, flat, hlens, hpool))
    if out:
        yield pd.DataFrame(
            out, columns=["a", "b", "n_common", "n_union", "jaccard"]
        )


def streaming_ngram_jaccard_lsh(
    stream: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    num_perm: int = 8,
    bands: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 10_000,
) -> DataFrame:
    """Streaming twin of the batch ``dedup.ngram_jaccard_lsh``: VERIFIED
    near-dup pairs (exact n-gram Jaccard >= threshold), not just LSH
    candidates — emitted the moment the second member of a colliding
    bucket arrives.

    The exact-verify stage runs inside the bucket state update on each
    member's CARRIED 48-bit shingle-hash array (exactly the batch
    ``carry_hashes`` design: longs in state, never re-shingling strings),
    with the batch's integer-millionths threshold compare and
    dedup-on-intersect / raw-size-union counting — so verified pairs are
    bit-identical to batch output, pytest-pinned across micro-batch
    splits.  Plan shape: signatures + hashes row-local, ONE wide groupBy
    on (band, bucket), verify row-local in state.  Same over-cap
    divergence note as :func:`streaming_minhash_candidates`."""
    from ..operators.dedup import (
        _band_entries_from_sig,
        _sig_col,
        _shingle_array,
        _with_digests,
    )

    thr_millionths = int(round(threshold * 1_000_000))
    docs = _with_digests(
        _shingle_array(stream, shingle_n, text_col, id_col), num_perm
    )
    sig = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        _sig_col(num_perm).alias("_sig"),
        "_h",
    )
    banded = sig.select(
        "doc_id",
        "_sig",
        "_h",
        F.explode(_band_entries_from_sig(num_perm, bands)).alias("_e"),
    ).select(
        "doc_id",
        "_sig",
        "_h",
        F.col("_e.band").alias("band"),
        F.col("_e.bucket").alias("bucket"),
    )
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        lambda key, it, st: _lsh_verify_batch(
            key, it, st, num_perm, bands, max_bucket, thr_millionths
        ),
        outputStructType=VERIFIED_PAIR_SCHEMA,
        stateStructType=VERIFY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_lang_centroids(
    stream: DataFrame,
    window_seconds: int = 300,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    lang_col: str = "lang",
    vec_col: str = "embedding",
    scale: float = 1_048_576.0,
) -> DataFrame:
    """Streaming embedding-drift monitor: per event-time window, the mean
    embedding component per (lang, pos) — the online twin of the batch
    ``lang_centroid_components`` query.  A shifting centroid between
    windows is the standard signal of corpus-mix or upstream-encoder
    drift.

    Same determinism contract as the batch query: components quantize to
    exact longs (floor(x*2^20 + 0.5)) so the windowed sums are integer
    and order-independent; only the final mean divides.  Stateless
    windowed aggregation with a real watermark — append mode emits a
    window once the watermark passes its end; no arbitrary state."""
    ex = (
        stream.withWatermark(ts_col, watermark)
        .select(
            ts_col,
            lang_col,
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "pos", "x"
            ),
        )
        .withColumn(
            "xq", F.floor(F.col("x") * F.lit(scale) + F.lit(0.5)).cast("long")
        )
    )
    agg = ex.groupBy(
        F.window(F.col(ts_col), f"{window_seconds} seconds"),
        F.col(lang_col),
        F.col("pos"),
    ).agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("xq").alias("_s"))
    return agg.select(
        F.col("window.start").alias("window_start"),
        lang_col,
        F.col("pos").cast("long").alias("pos"),
        "n_vecs",
        (F.col("_s").cast("double") / (F.col("n_vecs") * F.lit(scale))).alias(
            "centroid"
        ),
    )


# --- streaming heavy hitters (Space-Saving) ---------------------------------

#: heavy-hitter snapshot stream: per batch, the current top-k per group
TOPK_OUT_SCHEMA = "grp string, token string, est long, err long"
#: Space-Saving counter table, parallel arrays (capacity m entries)
TOPK_STATE_SCHEMA = "tokens array<string>, counts array<long>, errs array<long>"


def _spacesaving_batch(key, pdf_iter, state: GroupState, capacity: int, k: int):
    """Metwally et al. 2005 Space-Saving: m counters total; a new token
    with the table full EVICTS the minimum counter and inherits its count
    as error.  Guarantees (with n observations): every token with true
    count > n/m is in the table, and ``est - err <= true <= est``.  When
    the group has at most m distinct tokens, counts are EXACT."""
    (grp,) = key
    if state.exists:
        tokens, counts, errs = state.get
        table = {t: [c, e] for t, c, e in zip(tokens, counts, errs)}
    else:
        table = {}
    for pdf in pdf_iter:
        for tok in pdf["token"]:
            ent = table.get(tok)
            if ent is not None:
                ent[0] += 1
            elif len(table) < capacity:
                table[tok] = [1, 0]
            else:
                # evict the minimum-count entry (ties: lexicographic
                # smallest token — deterministic across runs)
                victim = min(table.items(), key=lambda kv: (kv[1][0], kv[0]))
                vcount = victim[1][0]
                del table[victim[0]]
                table[tok] = [vcount + 1, vcount]
    items = sorted(table.items(), key=lambda kv: (kv[0],))
    state.update(
        (
            [t for t, _ in items],
            [c for _, (c, _e) in items],
            [e for _, (_c, e) in items],
        )
    )
    top = sorted(table.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
    yield pd.DataFrame(
        {
            "grp": [grp] * len(top),
            "token": [t for t, _ in top],
            "est": [c for _, (c, _e) in top],
            "err": [e for _, (_c, e) in top],
        }
    )


def streaming_topk_tokens(
    stream: DataFrame,
    capacity: int = 256,
    k: int = 10,
    group_col: str = "grp",
    token_col: str = "token",
) -> DataFrame:
    """Online heavy hitters per group — the streaming twin of the batch
    count-min + top-k (operators/sketches.py cms_*): constant O(capacity)
    state per group regardless of stream length, append-mode snapshot of
    the current top-k each batch.  Space-Saving rather than CMS online
    because it maintains the candidate set IN the sketch (CMS needs a
    second structure to know which keys to query)."""
    prepared = stream.select(
        F.col(group_col).cast("string").alias("grp"),
        F.col(token_col).cast("string").alias("token"),
    )
    return prepared.groupBy("grp").applyInPandasWithState(
        lambda key, it, st: _spacesaving_batch(key, it, st, capacity, k),
        outputStructType=TOPK_OUT_SCHEMA,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming quantile (P²) ------------------------------------------------

#: quantile snapshot stream: current estimate + exact-sample flag
P2_OUT_SCHEMA = "key string, n long, q_est double, exact boolean"
#: P² state: 5 marker heights + positions + desired positions (doubles),
#: observation count
P2_STATE_SCHEMA = (
    "heights array<double>, npos array<double>, count long"
)


def _p2_batch(key, pdf_iter, state: GroupState, q: float):
    """Jain & Chlamtac 1985 P² online quantile: five markers track
    (min, q/2, q, (1+q)/2, max) heights; each observation shifts marker
    positions and parabolic-adjusts heights — O(1) state and time per
    observation, no sample buffer.  Until five observations arrive the
    exact sorted sample is carried (and the estimate is exact)."""
    (key_val,) = key
    if state.exists:
        heights, npos, count = state.get
        heights = list(heights)
        npos = list(npos)
    else:
        heights, npos, count = [], [], 0

    def ingest(x: float):
        nonlocal heights, npos, count
        count += 1
        if count <= 5:
            heights.append(x)
            heights.sort()
            if count == 5:
                npos = [1.0, 2.0, 3.0, 4.0, 5.0]
            return
        # locate cell
        if x < heights[0]:
            heights[0] = x
            k = 0
        elif x >= heights[4]:
            heights[4] = x
            k = 3
        else:
            k = next(i for i in range(4) if heights[i] <= x < heights[i + 1])
        for i in range(k + 1, 5):
            npos[i] += 1.0
        # desired positions for markers of p in {0, q/2, q, (1+q)/2, 1}
        desired = [
            1.0,
            1.0 + (count - 1) * (q / 2.0),
            1.0 + (count - 1) * q,
            1.0 + (count - 1) * ((1.0 + q) / 2.0),
            float(count),
        ]
        for i in (1, 2, 3):
            d = desired[i] - npos[i]
            if (d >= 1.0 and npos[i + 1] - npos[i] > 1.0) or (
                d <= -1.0 and npos[i - 1] - npos[i] < -1.0
            ):
                d = 1.0 if d >= 0 else -1.0
                # parabolic (P²) height adjustment
                hp = heights[i] + d / (npos[i + 1] - npos[i - 1]) * (
                    (npos[i] - npos[i - 1] + d)
                    * (heights[i + 1] - heights[i])
                    / (npos[i + 1] - npos[i])
                    + (npos[i + 1] - npos[i] - d)
                    * (heights[i] - heights[i - 1])
                    / (npos[i] - npos[i - 1])
                )
                if not (heights[i - 1] < hp < heights[i + 1]):
                    # fall back to linear adjustment
                    j = i + (1 if d > 0 else -1)
                    hp = heights[i] + d * (heights[j] - heights[i]) / (
                        npos[j] - npos[i]
                    )
                heights[i] = hp
                npos[i] += d

    for pdf in pdf_iter:
        for x in pdf["value"]:
            ingest(float(x))
    state.update((heights, npos, count))
    if count == 0:
        return
    if count <= 5:
        # heights is still the exact sorted sample at count == 5 (markers
        # only start moving on the 6th observation), so the sorted-sample
        # quantile — not heights[2], which is only the q=0.5 marker — is
        # the honest exact estimate here
        srt = sorted(heights)
        idx = max(0, min(len(srt) - 1, round(q * (len(srt) - 1))))
        est, exact = srt[idx], True
    else:
        est, exact = heights[2], False
    yield pd.DataFrame(
        {"key": [key_val], "n": [count], "q_est": [est], "exact": [exact]}
    )


def streaming_quantile_p2(
    stream: DataFrame,
    q: float = 0.5,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Online per-key quantile with O(1) state (5 markers), the classic
    P² sketch — where the batch engine uses exact grouped quantiles
    (operators/corpus.py group_quantiles), an unbounded stream can't
    hold samples; P² trades exactness for constant memory."""
    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        lambda key, it, st: _p2_batch(key, it, st, q),
        outputStructType=P2_OUT_SCHEMA,
        stateStructType=P2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming rolling z-score anomaly monitor ------------------------------

#: trailing window-1 cents values, oldest first
ZS_STATE_SCHEMA = "tail array<long>"
ZS_OUT_SCHEMA = (
    "key string, event_id long, ts timestamp, value double, zscore double"
)


def _zscore_batch(key, pdf_iter, state: GroupState, window: int, scale: int):
    import math

    tail = list(state.get[0]) if state.exists else []
    keep = window - 1
    keys, eids, tss, vals, zs = [], [], [], [], []
    # concat-then-sort: chunk order within a micro-batch is arbitrary and
    # the window recursion is order-sensitive
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        whole = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        whole = whole.sort_values(["ts", "event_id"], kind="mergesort")
        for ts, eid, val in zip(
            whole["ts"], whole["event_id"], whole["value"]
        ):
            xc = int(round(val * scale))
            win = tail[-keep:] + [xc] if keep else [xc]
            n = len(win)
            z = None
            if n >= window:
                s = sum(win)
                qq = sum(v * v for v in win)
                var_num = n * qq - s * s
                if var_num > 0:
                    # EXACT batch expression order (operators/stats.py
                    # rolling_zscore): int->double conversions are exact,
                    # * / sqrt correctly rounded -> bit-equal zscores
                    z = float(xc * n - s) / math.sqrt(
                        float(var_num) * float(n) / float(n - 1)
                    )
            keys.append(key[0])
            eids.append(eid)
            tss.append(ts)
            vals.append(val)
            zs.append(z)
            tail.append(xc)
            if len(tail) > keep:
                tail = tail[-keep:]
    state.update((tail,))
    if keys:
        yield pd.DataFrame(
            {
                "key": keys,
                "event_id": eids,
                "ts": tss,
                "value": vals,
                "zscore": zs,
            }
        )


def streaming_zscore(
    stream: DataFrame,
    window: int = 100,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """Online twin of ``operators.stats.rolling_zscore``: each arriving
    reading is scored against the trailing ``window`` readings of its
    key the moment it lands — O(window) state per key, append mode.

    Bit-equal to the batch operator on in-order replays (the state update
    mirrors the batch integer pipeline and the final float expression
    order exactly; batch-equivalence pytest-pinned across micro-batch
    splits).  In-order per key across micro-batches is assumed — a
    late-arriving reading scores against the window AS OF its arrival,
    where the batch recomputation would slot it historically; bound
    disorder upstream with a watermark + sort, or reconcile with the
    batch operator downstream."""
    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(tiebreak_col).cast("long").alias("event_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        lambda key, it, st: _zscore_batch(key, it, st, window, scale),
        outputStructType=ZS_OUT_SCHEMA,
        stateStructType=ZS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming sensor-outage gap monitor ------------------------------------

GAP_STATE_SCHEMA = "last_ts timestamp, alerted boolean"
GAP_OUT_SCHEMA = (
    "key string, gap_start timestamp, gap_end timestamp, gap_us long, "
    "open boolean"
)


def _gap_batch(key, pdf_iter, state: GroupState, gap_s: int):
    rows = []
    last = state.get[0] if state.exists else None
    alerted = bool(state.get[1]) if state.exists else False
    wm = state.getCurrentWatermarkMs()
    if state.hasTimedOut:
        # watermark passed last_ts + gap: the signal is silent NOW
        if last is not None and not alerted:
            rows.append((key[0], last, None, None, True))
        state.update((last, True))
        # re-arm beyond the CURRENT watermark (a timeout below it is
        # rejected); wm + gap = "alert again if still silent".  _epoch_ms
        # (not .timestamp()): state hands back naive datetimes and the
        # epoch must not depend on the process TZ.
        state.setTimeoutTimestamp(
            max(_epoch_ms(last) + 2 * gap_s * 1000, wm + gap_s * 1000)
        )
    else:
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            whole = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            whole = whole.sort_values("ts", kind="mergesort")
            for ts in whole["ts"]:
                if last is not None:
                    gap_us = int(
                        round((ts - last).total_seconds() * 1_000_000)
                    )
                    if gap_us > gap_s * 1_000_000:
                        rows.append((key[0], last, ts, gap_us, False))
                last = ts
                alerted = False
        if last is not None:
            state.update((last, alerted))
            state.setTimeoutTimestamp(
                max(_epoch_ms(last) + gap_s * 1000, wm + 1)
            )
    if rows:
        yield pd.DataFrame(
            rows,
            columns=["key", "gap_start", "gap_end", "gap_us", "open"],
        )


def streaming_gap_monitor(
    stream: DataFrame,
    gap_s: int = 1800,
    key_col: str = "event_type",
    ts_col: str = "ts",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Online twin of the batch ``sensor_gap_report``: emits a CLOSED gap
    row the moment a reading arrives after silence (> ``gap_s``), and —
    the part batch cannot do — an OPEN gap row via event-time TIMEOUT
    when the watermark passes ``last_ts + gap_s`` with no reading at
    all: the "signal is silent right now" alert.

    O(1) state per key (last timestamp + alert latch); closed-gap rows
    carry exact microsecond widths matching the batch operator.  The
    open-gap alert re-arms at 2x the gap so a long outage surfaces
    without flooding."""
    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
    ).withWatermark("ts", watermark)
    return prepared.groupBy("key").applyInPandasWithState(
        lambda key, it, st: _gap_batch(key, it, st, gap_s),
        outputStructType=GAP_OUT_SCHEMA,
        stateStructType=GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- streaming EWMA control chart -------------------------------------------

EWMA_STATE_SCHEMA = "num double, den double"
EWMA_OUT_SCHEMA = "key string, event_id long, value double, ewma double"


def _ewma_batch(key, pdf_iter, state: GroupState, alpha: float):
    decay = 1.0 - alpha
    num, den = state.get if state.exists else (0.0, 0.0)
    keys, eids, vals, zs = [], [], [], []
    # concat-then-sort: a group spanning several Arrow chunks arrives in
    # arbitrary chunk order, and the recursion is order-sensitive (the
    # sibling _compact_batch/_sessionize_batch do the same)
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        whole = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        whole = whole.sort_values("event_id", kind="mergesort")
        for eid, val in zip(whole["event_id"], whole["value"]):
            num = num * decay + float(val)
            den = den * decay + 1.0
            keys.append(key[0])
            eids.append(eid)
            vals.append(val)
            zs.append(num / den)
    state.update((num, den))
    if keys:
        yield pd.DataFrame(
            {"key": keys, "event_id": eids, "value": vals, "ewma": zs}
        )


def streaming_ewma(
    stream: DataFrame,
    alpha: float = 0.3,
    key_col: str = "event_type",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Online EWMA (adjust=True): every reading emits its smoothed value
    the moment it lands — O(1) state per key (two doubles), the exact
    UNTRUNCATED recursion the batch operator approximates with its
    Horner window (equal to (1-alpha)^window — both pandas-pinned)."""
    prepared = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(order_col).cast("long").alias("event_id"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        lambda key, it, st: _ewma_batch(key, it, st, alpha),
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
