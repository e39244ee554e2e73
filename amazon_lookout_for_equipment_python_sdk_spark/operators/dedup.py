"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

LLM-pipeline dedup layer (BASELINE.json north star).  Everything is
engine-portable deterministic hashing (md5-based — no Spark-specific
xxhash), so results verify against a DuckDB oracle bit-for-bit.

Scale design:
- Exact dedup: hash-groupBy on the fingerprint — one shuffle on a short
  key, map-side combinable.
- MinHash: explode (doc x shingle x perm) -> min per (doc, perm) is a hash
  agg; the LSH band join buckets signatures so candidate generation is an
  equi-join on (band, bucket) — the standard linear-scale near-dup path.
  Exact pairwise Jaccard runs ONLY on LSH candidates at scale (the
  all-pairs variant exists for oracle verification at small SF).
- SimHash: per-token hash -> per-bit +/-1 vote -> sign vector packed into a
  long; hamming-near pairs join on rotated bands of the packed value.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import fingerprint
from .._persist import note_persist as _note_persist


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: one row per distinct text with the canonical
    (minimum) id and the duplicate count."""
    return (
        df.groupBy(fingerprint(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def _shingle_udf(n: int):
    """Arrow-batched shingler: text -> distinct word n-gram array
    (first-occurrence order, like ``array_distinct``).

    Why a pandas UDF and not column expressions: the declarative shape
    (``transform(sequence(...), i -> concat_ws(' ', slice(words, i, n)))``
    + ``array_distinct``) runs in Spark's INTERPRETED higher-order-function
    evaluator, not codegen — measured 2.4x slower than this batched UDF at
    sf0.1 (2.2s vs 0.9s), and shingling dominated the whole MinHash
    pipeline (md5 + array_min are comparatively free).  Same justification
    as the hyperplane-bucket UDF in similarity.py; output is pure string
    ops — bit-identical to the SQL oracle, no float drift surface."""

    @F.pandas_udf("array<string>")
    def udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            w = t.split(" ") if t is not None else []
            if len(w) < n:
                out.append([])  # short docs drop out downstream
                continue
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
                    )
                )
            )
        return pd.Series(out)

    return udf


def _shingle_array(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, _sh: array<string>) — distinct word n-gram shingles per doc,
    computed row-local (no shuffle); docs shorter than n words drop out.

    The short-doc gate runs on the INPUT column, not the UDF output
    (r15, guide §4.4): ``.filter(size(_sh) > 0)`` made Catalyst push a
    ``size(udf(text)) > 0`` filter below the projection and evaluate the
    shingle UDF TWICE (two ArrowEvalPython nodes in every minhash-family
    plan).  The kernel returns ``[]`` iff text is NULL or has fewer than
    n space-separated segments, and ``size(split(text, ' ', -1))`` is
    exactly Python's ``len(text.split(' '))`` (both keep empty segments,
    both give 1 for ''), so the pre-filter is row-for-row equivalent —
    and being a plain column predicate it also reaches the scan."""
    return df.filter(
        F.col(text_col).isNotNull()
        & (F.size(F.split(F.col(text_col), " ", -1)) >= n)
    ).select(F.col(id_col), _shingle_udf(n)(F.col(text_col)).alias("_sh"))


#: universal-hash permutation constants: perm p of a 48-bit base hash h is
#: ``(A[p]*h + B[p]) mod P`` with P the largest prime below 2^32.  One md5
#: per shingle feeds ALL permutations (r2 paid 2 md5 calls via the
#: 4-slices-per-digest trick; md5 is the dominant JVM cost of the whole
#: MinHash pipeline, and the multiply-add is free next to it).  A[p] < 2^15
#: keeps ``A[p]*h < 2^63`` — no 64-bit overflow, so Spark and the DuckDB
#: oracle (both BIGINT) compute identical values.
_PERM_A = [9973, 12007, 14033, 16061, 18041, 20063, 22073, 24091]
_PERM_B = [1, 7, 13, 19, 29, 37, 43, 53]
_PERM_P = 4_294_967_291  # largest prime < 2^32


def _h48_col() -> "F.Column":
    """array<long> of 48-bit base hashes over the doc's shingle array: the
    first 12 hex chars of one md5 per shingle — materialized once so
    codegen shares it across every permutation derived from it."""
    return F.transform(
        F.col("_sh"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
    )


def _perm_expr(p: int):
    """h -> permutation p of h (closure, NOT default-arg lambda: a
    default arg would raise transform's lambda arity and bind the array
    index instead)."""
    a, b = _PERM_A[p], _PERM_B[p]
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_PERM_P)


def _perm_min(p: int) -> "F.Column":
    """Permutation p's minhash: numeric min over the doc's base-hash array
    ``_h`` of the p-th universal-hash permutation."""
    return F.array_min(F.transform(F.col("_h"), _perm_expr(p)))


def _with_digests(docs: DataFrame, num_perm: int) -> DataFrame:
    if num_perm > len(_PERM_A):
        raise ValueError(
            f"num_perm {num_perm} exceeds the {len(_PERM_A)} fixed "
            "permutation constants — extend _PERM_A/_PERM_B"
        )
    return docs.withColumn("_h", _h48_col())


def _sig_col(num_perm: int) -> Column:
    """array<long> of the num_perm minhash values (from the ``_h`` base
    hashes)."""
    return F.array(*[_perm_min(p) for p in range(num_perm)])


def _band_entries_from_sig(num_perm: int, bands: int) -> Column:
    """array<struct<band,bucket>> from the ``_sig`` column: bucket key is
    the ``:``-joined minhash values inside the band, in permutation order
    (fixed order — deterministic without any sort)."""
    rpb = num_perm // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[
                        F.col("_sig")[p].cast("string")
                        for p in range(b * rpb, (b + 1) * rpb)
                    ],
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def minhash_banded(
    df: DataFrame,
    num_perm: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bucket) LSH band buckets straight from documents —
    row-local (no shuffle at all before the candidate join).  Bucket key is
    the sorted concat of ``perm:minhash`` entries inside the band, matching
    ``lsh_candidate_pairs``'s construction bit-for-bit."""
    if num_perm % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}) — a remainder "
            "would silently drop the trailing permutations from the banding"
        )
    docs = _with_digests(
        _shingle_array(df, shingle_n, text_col, id_col), num_perm
    )
    return minhash_banded_from_digests(docs, num_perm, bands, id_col)


def minhash_banded_from_digests(
    digests: DataFrame,
    num_perm: int = 8,
    bands: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band buckets from an ALREADY-digested frame (``_with_digests``
    output) — lets a caller that also needs the per-doc hash arrays
    derive both from ONE digest pass instead of recomputing the
    md5-dominated shingle pipeline per consumer (incremental_dedup's
    batch side)."""
    sig = digests.select(id_col, _sig_col(num_perm).alias("_sig"))
    return sig.select(
        id_col, F.explode(_band_entries_from_sig(num_perm, bands)).alias("_e")
    ).select(
        id_col, F.col("_e.band").alias("band"), F.col("_e.bucket").alias("bucket")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    num_perm: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 10_000,
    cap_observation=None,
    carry_shingles: bool = False,
    carry_hashes: bool = False,
    pair_pred=None,
) -> DataFrame:
    """Fused LSH candidate pairs — one CORPUS-sized shuffle end-to-end.

    The (id, signature[, shingle-array]) member struct rides THROUGH the
    (band, bucket) groupBy, and cross-band duplicate pairs are eliminated
    by FIRST-MATCHING-BAND ownership (a pair is emitted only by the lowest
    band whose signature slices agree — recomputed row-local from the two
    carried signatures) instead of a ``distinct`` — so the whole candidate
    pipeline is: row-local signatures -> one groupBy -> row-local pair
    expansion + ownership filter.  The previous shape paid a second
    shuffle for the distinct and (for verification) two more joins back to
    per-doc arrays; each shuffle is a stage barrier at any scale and the
    O(candidates) distinct is pure overhead.

    With ``max_bucket`` set, ownership would be wrong (a pair whose first
    matching band's bucket was dropped must still surface via a surviving
    band), so the capped path dedups with a pair-level groupBy instead —
    an extra shuffle, but over candidate pairs, never the corpus.

    ``carry_shingles=True`` adds each doc's shingle array to the member
    struct (columns ``_sha``/``_shb`` on the output) so an exact verify
    needs NO join — the bucket shuffle then carries ~bands x corpus-shingle
    bytes, the classic shuffle-vs-recompute trade, bounded by
    ``max_bucket`` exactly like the pair expansion itself.

    ``carry_hashes=True`` carries the doc's distinct 48-bit shingle-hash
    array instead (``_ha``/``_hb``) — the hashes are ALREADY materialized
    for the signatures, and 8-byte longs shuffle ~3x smaller than word
    3-gram strings and compare faster in ``array_intersect``.  Jaccard on
    the hash sets equals Jaccard on the string sets except under a 48-bit
    md5 collision inside a compared pair; the oracle hashes with the same
    md5 expression, so results stay bit-identical either way.

    ``pair_pred``: an optional (member_a, member_b) -> Column predicate
    over the two carried member structs (fields ``i`` id, ``g``
    signature, ``h`` shingles if carried, ``hh`` hashes if carried),
    evaluated INSIDE the bucket pair-expansion lambda.  A verifying
    caller (e.g. exact Jaccard thresholding) passes its accept-predicate
    here so (a) rejected candidate pairs never materialize as rows at
    all, and (b) the capped path's pair-level dedup shuffle carries only
    verified pairs — row-local integer work on the quadratic candidate
    set traded against materializing + shuffling it.  Must be
    deterministic per (a, b) so cross-band duplicates agree on it.
    """
    if num_perm % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}) — a remainder "
            "would silently drop the trailing permutations from the banding"
        )
    rpb = num_perm // bands
    docs = _with_digests(
        _shingle_array(df, shingle_n, text_col, id_col), num_perm
    ).withColumn("_sig", _sig_col(num_perm))
    fields = [F.col(id_col).alias("i"), F.col("_sig").alias("g")]
    if carry_shingles:
        fields.append(F.col("_sh").alias("h"))
    if carry_hashes:
        fields.append(F.array_distinct(F.col("_h")).alias("hh"))
    banded = docs.select(
        F.struct(*fields).alias("_m"),
        F.explode(_band_entries_from_sig(num_perm, bands)).alias("_e"),
    ).select("_m", F.col("_e.band").alias("band"), F.col("_e.bucket").alias("bucket"))
    cols = [
        F.col("_p.a.i").alias("a"),
        F.col("_p.b.i").alias("b"),
        F.col("_p.a.g").alias("_ga"),
        F.col("_p.b.g").alias("_gb"),
        "band",
    ]
    if carry_shingles:
        cols += [F.col("_p.a.h").alias("_sha"), F.col("_p.b.h").alias("_shb")]
    if carry_hashes:
        cols += [F.col("_p.a.hh").alias("_ha"), F.col("_p.b.hh").alias("_hb")]
    pairs = _expand_bucket_pairs(
        banded, "band", max_bucket, cap_observation, pair_pred
    ).select(*cols)
    # per-band collision flags, recomputed row-local from the carried
    # signatures (statically unrolled — bands is tiny); non-empty by
    # construction (the current band's bucket matched)
    match_flags = F.array(
        *[
            F.slice(F.col("_ga"), b * rpb + 1, rpb)
            == F.slice(F.col("_gb"), b * rpb + 1, rpb)
            for b in range(bands)
        ]
    )
    payload = (["_sha", "_shb"] if carry_shingles else []) + (
        ["_ha", "_hb"] if carry_hashes else []
    )
    return _dedup_cross_band(pairs, match_flags, "band", max_bucket, payload)


def _pairs_in_list(ids: Column, pair_pred=None) -> Column:
    """All (a < b) pairs from a sorted id array, row-local: for element i,
    pair it with every later element (1-based slice).

    ``pair_pred`` (member_a, member_b) -> Column prunes INSIDE the
    expansion: rejected pairs are filtered per-element before ``flatten``,
    so a big bucket's quadratic candidate set is scanned (cheap integer
    lambda work) but never MATERIALIZED as an array of structs — the
    difference between emitting O(bucket^2) rows into the downstream plan
    and emitting only the accepted pairs."""
    def expand(x, i):
        cands = F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("a"), y.alias("b")),
        )
        if pair_pred is not None:
            cands = F.filter(cands, lambda p: pair_pred(p["a"], p["b"]))
        return cands

    return F.flatten(F.transform(ids, expand))


def _expand_bucket_pairs(
    banded: DataFrame,
    band_col: str = "band",
    max_bucket: int | None = None,
    cap_observation=None,
    pair_pred=None,
) -> DataFrame:
    """Shared LSH bucket -> candidate-pair skeleton: group members by
    (band, bucket), apply the posting-list cap, expand each bucket's
    members into (a < b) pairs row-local.

    ``banded`` carries (``_m`` member column — an id or a payload struct —
    ``band_col``, ``bucket``); output is (``band_col``, ``_p``) pair rows
    with ``_p.a``/``_p.b`` the two members.  This is the one groupBy
    shuffle of every LSH path (MinHash, SimHash, hyperplane); cross-band
    dedup is the CALLER's job via :func:`_dedup_cross_band` because the
    payload columns differ per operator.

    ``max_bucket`` drops over-cap buckets (quadratic-pair mass on
    degenerate corpora); ``cap_observation`` (a
    ``pyspark.sql.Observation``) records ``dropped_buckets`` /
    ``max_bucket_seen`` during the caller's action, zero extra jobs.
    ``pair_pred`` (member_a, member_b) -> Column verifies pairs inside
    the expansion lambda (see :func:`_pairs_in_list`) so rejected pairs
    never materialize as rows."""
    grouped = (
        banded.groupBy(band_col, "bucket")
        .agg(F.array_sort(F.collect_list("_m")).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    if max_bucket is not None:
        if cap_observation is not None:
            grouped = grouped.observe(
                cap_observation,
                F.sum((F.size("_ids") > max_bucket).cast("long")).alias(
                    "dropped_buckets"
                ),
                F.max(F.size("_ids")).alias("max_bucket_seen"),
            )
        grouped = grouped.filter(F.size("_ids") <= max_bucket)
    return grouped.select(
        band_col,
        F.explode(_pairs_in_list(F.col("_ids"), pair_pred)).alias("_p"),
    )


def _dedup_cross_band(
    pairs: DataFrame,
    match_flags: Column,
    band_col: str,
    max_bucket: int | None,
    payload: list[str],
) -> DataFrame:
    """Cross-band pair dedup, shared by every fused LSH path.

    Uncapped: FIRST-MATCHING-BAND ownership — ``match_flags`` is the
    per-band "this pair's keys collide in band b" boolean array, recomputed
    row-local from carried payloads, and only the lowest matching band
    emits the pair: zero extra shuffle, exact when no bucket can be
    dropped.  Capped: a pair whose first matching band was dropped must
    still surface via a surviving band, so ownership is wrong — dedup at
    the pair level instead (one extra shuffle, but over CANDIDATE PAIRS,
    never the corpus).  Output columns: a, b, *payload."""
    if max_bucket is None:
        first_match = F.array_position(match_flags, F.lit(True)) - 1
        return pairs.filter(first_match == F.col(band_col)).select(
            "a", "b", *payload
        )
    if payload:
        return pairs.groupBy("a", "b").agg(
            *[F.first(c).alias(c) for c in payload]
        )
    return pairs.select("a", "b").distinct()


def candidate_pairs_from_banded(
    banded: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    cap_observation=None,
) -> DataFrame:
    """Docs sharing any (band, bucket) become a candidate pair (a < b).

    One groupBy shuffle on (band, bucket) then row-local pair generation —
    no self-join, so the banded lineage is scanned once.  Bucket members
    are collected per group: fine because real LSH buckets are small (hex
    buckets distribute uniformly); a degenerate all-identical corpus makes
    one giant bucket, which is quadratic in ANY candidate scheme — cap it
    upstream with exact dedup first, and/or pass ``max_bucket`` to DROP
    oversized buckets (the standard posting-list cap: a bucket that large
    is either exact-dup mass or hash degeneracy, and the pairs it would
    emit are where the quadratic blowup lives at 100 TB).

    ``cap_observation``: an optional ``pyspark.sql.Observation`` that
    records ``dropped_buckets`` / ``max_bucket_seen`` during the caller's
    action (zero extra jobs) so capped runs leave an auditable stat
    instead of silently shrinking the candidate set.
    """
    return (
        _expand_bucket_pairs(
            banded.select(F.col(id_col).alias("_m"), "band", "bucket"),
            "band",
            max_bucket,
            cap_observation,
        )
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int = 8,
    bands: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding from a (id, perm, minhash) signature table; prefer
    ``minhash_banded`` + ``candidate_pairs_from_banded`` when starting from
    raw documents (skips this groupBy shuffle entirely)."""
    if num_perm % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm})"
        )
    rows_per_band = num_perm // bands
    banded = (
        signatures.withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            # sort by perm, then join the minhash values in that fixed
            # order — identical key construction to _band_entries_from_sig
            F.concat_ws(
                ":",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("perm", "minhash"))
                    ),
                    lambda e: e["minhash"].cast("string"),
                ),
            ).alias("bucket")
        )
    )
    return candidate_pairs_from_banded(banded, id_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity pairs: |A ∩ B| / |A ∪ B| >= threshold.

    Without ``candidates`` this is the all-pairs-sharing-a-shingle join
    (inverted-index style — correct but quadratic in the worst case; kept
    for small-SF oracle verification).  WITH ``candidates`` (the 100 TB
    path, see :func:`ngram_jaccard_lsh`) the quadratic join never happens:
    the candidate pair table is equi-joined to the per-doc shingle ARRAYS
    (two hash joins, linear in candidate count) and the intersection is
    row-local ``array_intersect`` inside codegen.  Jaccard is exact integer
    arithmetic; the threshold compare happens on an integer cross-product
    (common * 1e6 >= thr * union) to stay bit-portable.
    """
    thr_millionths = int(round(threshold * 1_000_000))
    # persist the per-doc shingle frame: BOTH branches consume it twice
    # (once per pair side), Catalyst clones the subtree per consumer,
    # and the explode's inferred `size(_sh) > 0` filter additionally
    # pushed below the repartition — the r15 plan audit counted FOUR
    # ArrowEvalPython shingle evals per query.  Caching the (id, array)
    # frame (DISK_ONLY per house policy) runs the Python shingler ONCE;
    # filters cannot be pushed into a cached relation, so the inferred
    # generate filter evaluates against the cache, not a re-run.
    from pyspark import StorageLevel

    from .._persist import note_persist

    arrs = (
        _shingle_array(df, shingle_n, text_col, id_col)
        .persist(StorageLevel.DISK_ONLY)
        .transform(note_persist)
    )
    if candidates is not None:
        a_arr = arrs.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sha"))
        b_arr = arrs.select(F.col(id_col).alias("b"), F.col("_sh").alias("_shb"))
        common = (
            candidates.join(a_arr, "a")
            .join(b_arr, "b")
            .select(
                "a",
                "b",
                F.size(F.array_intersect("_sha", "_shb")).alias("n_common"),
                F.size("_sha").alias("na"),
                F.size("_shb").alias("nb"),
            )
        )
    else:
        sh = arrs.select(
            id_col, F.size("_sh").alias("n_sh"), F.explode("_sh").alias("sh")
        )
        a = sh.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na"), "sh")
        b = sh.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb"), "sh")
        common = (
            a.join(b, "sh")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b", "na", "nb")
            .agg(F.count("*").alias("n_common"))
        )
    out = (
        common.withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_common"))
        .filter(
            F.col("n_common") * 1_000_000 >= F.lit(thr_millionths) * F.col("n_union")
        )
        .select(
            "a",
            "b",
            "n_common",
            "n_union",
            (F.col("n_common") / F.col("n_union").cast("double")).alias("jaccard"),
        )
    )
    return out


def ngram_jaccard_lsh(
    df: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    num_perm: int = 8,
    bands: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 10_000,
    cap_observation=None,
) -> DataFrame:
    """The scale path: MinHash-LSH candidate pruning + exact Jaccard only on
    candidates.  Signatures/band buckets are row-local (zero shuffle),
    candidates are one groupBy on (band, bucket), and the exact verify is
    two hash joins of the candidate table against doc shingle arrays — no
    quadratic inverted-index self-join anywhere in the plan.

    ``max_bucket`` caps the posting list per (band, bucket): a bucket
    bigger than this is exact-dup mass or hash degeneracy (run exact dedup
    first) and would emit O(size^2) pairs — the one place the linear plan
    could go quadratic on a pathological corpus.  ``None`` disables;
    ``cap_observation`` records the drop stat.

    Physical shape: the FUSED candidate path (one groupBy shuffle,
    first-matching-band ownership instead of a distinct — see
    :func:`minhash_candidate_pairs`) with the exact verify inlined as
    row-local ``array_intersect`` on the carried 48-bit shingle-HASH
    arrays (``carry_hashes``): the signatures already materialize the
    hashes, longs shuffle ~3x smaller than 3-gram strings, and the
    intersect compares longs instead of strings.  The Jaccard is over the
    hash sets — identical to string-set Jaccard short of a 48-bit md5
    collision inside a pair, and the DuckDB oracle hashes with the same
    expression so values match bit-for-bit regardless.  The whole query is
    signatures -> one shuffle -> codegen."""
    thr_millionths = int(round(threshold * 1_000_000))

    # the threshold check runs as `pair_pred` INSIDE the bucket pair
    # expansion: rejected candidates never materialize as rows, and the
    # capped path's pair-level dedup shuffle carries only accepted
    # near-dup pairs (with their hash arrays) instead of every candidate
    # — the intersect is recomputed per extra band collision and once
    # more on the (few) survivors below, row-local work traded against
    # materializing + shuffling the O(candidates) set
    def accept(a, b):
        nc = F.size(F.array_intersect(a["hh"], b["hh"]))
        return nc * 1_000_000 >= F.lit(thr_millionths) * (
            F.size(a["hh"]) + F.size(b["hh"]) - nc
        )

    pairs = minhash_candidate_pairs(
        df, num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col, max_bucket=max_bucket,
        cap_observation=cap_observation, carry_hashes=True,
        pair_pred=accept,
    )
    return (
        pairs.select(
            "a",
            "b",
            F.size(F.array_intersect("_ha", "_hb")).alias("n_common"),
            F.size("_ha").alias("na"),
            F.size("_hb").alias("nb"),
        )
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_common"))
        .select(
            "a",
            "b",
            "n_common",
            "n_union",
            (F.col("n_common") / F.col("n_union").cast("double")).alias(
                "jaccard"
            ),
        )
    )


def near_dup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: every doc gets its
    component's minimum id as ``cluster`` (the canonical survivor).

    Iterative min-label propagation: each round joins current labels
    through the symmetric edge list and keeps the minimum seen — the
    standard Spark connected-components-lite, converging in O(diameter)
    rounds (near-dup clusters are shallow; ``max_iter`` is a guard, and
    non-convergence raises rather than returning wrong clusters).  Each
    round is one broadcast-or-shuffle join + hash agg on (node); no
    driver-side graph.
    """
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    labels = ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    )
    cached = None  # the persisted handle backing `labels` (unpersist target)
    for it in range(max_iter):
        # neighbor labels: for each node, min label among its neighbors
        nbr = (
            edges.join(
                labels.withColumnRenamed("node", "dst").withColumnRenamed(
                    "label", "_dl"
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_dl").alias("_nl"))
            .withColumnRenamed("src", "node")
        )
        # labels only ever decrease, so "changed" is new < old — computed
        # on the SAME row as the propagation and drained by the one agg
        # action that also materializes the cache: one join + one job per
        # round (the old shape paid a second labels join just to count)
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))
        )
        new_labels = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label < F.col("label")).cast("long").alias("_chg"),
            )
            .persist()
            .transform(_note_persist)
        )
        changed = new_labels.agg(F.sum("_chg")).collect()[0][0]
        labels = new_labels.drop("_chg")
        if (it + 1) % 4 == 0:
            # cut the logical plan every few rounds: persist caches
            # DATA but not the PLAN, and each round references the
            # previous labels twice (neighbor join + update join), so
            # the analyzed tree doubles per round — a deep-diameter
            # graph (chain-shaped duplicate clusters) drowns in
            # analysis long before compute (the r14 pagerank lesson).
            # The cut runs while the round's cache is still live, so
            # it reads blocks, not lineage; plans stay <= 2^4 deep.
            labels = labels.localCheckpoint(eager=True)
        if cached is not None:
            cached.unpersist()
        cached = new_labels
        if not changed:
            break
    else:
        if cached is not None:
            cached.unpersist()
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} iterations"
        )
    # cut the iteration lineage and release the loop cache — without this
    # every call would leak one persisted O(corpus) DataFrame for the
    # session's lifetime
    final = labels.localCheckpoint(eager=True)
    if cached is not None:
        cached.unpersist()
    return final.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster")
    )


def dedup_near(
    df: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """End-to-end near-duplicate removal: LSH-pruned exact Jaccard pairs ->
    connected components -> keep each cluster's minimum id.  Returns the
    surviving rows of ``df``.

    Run :func:`dedup_exact` FIRST on real corpora: mass exact duplicates
    all land in one LSH bucket, and ``max_bucket`` (the posting-list cap)
    will then DROP that bucket's pairs rather than go quadratic — capped
    exact-dups would survive near-dedup."""
    pairs = ngram_jaccard_lsh(
        df, shingle_n=shingle_n, threshold=threshold,
        text_col=text_col, id_col=id_col, max_bucket=max_bucket,
    ).select("a", "b")
    clusters = near_dup_clusters(df.select(id_col), pairs, id_col)
    keep = clusters.filter(F.col(id_col) == F.col("cluster")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def keep_best_per_cluster(
    df: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-argmax canonical selection: keep, per near-dup cluster,
    the member with the HIGHEST ``quality_col`` (ties break to the
    lowest id — fully deterministic).  The production alternative to
    min-id survival: when a crawl has both a clean and a boilerplate-
    mangled copy, the min-id rule keeps whichever was crawled first,
    while this keeps the one the quality model scores best (the
    RefinedWeb/FineWeb keep-best convention).

    ``clusters`` is :func:`near_dup_clusters` output (id, cluster);
    ``df`` must carry ``quality_col`` (numeric — e.g. text.quality_score
    or the bigram-LM perplexity).  ``id_col`` may be ANY orderable type:
    the tie-break is ``min_by`` over struct(-quality, id), so string ids
    order lexicographically (the old ``max_by(.., struct(q, -id))`` shape
    silently required numeric ids).  Ids absent from ``clusters`` (a
    caller passing a pairs-derived label frame that only covers dup'd
    docs) SURVIVE — an uncovered doc is its own singleton cluster, not a
    casualty.  Shape: one join to attach labels, one min_by per cluster
    (aggregate-sized), one anti-join for the uncovered remainder, one
    semi-join back — no window over the corpus."""
    labeled = df.select(id_col, quality_col).join(clusters, id_col)
    # NULL quality must always LOSE (the max_by-era behavior: an unscored
    # doc never beats a scored one) — ranked with an EXPLICIT null flag
    # rather than a +inf sentinel so the rule holds at non-finite scores
    # too: quality == -inf is a (worst) SCORED doc and still beats NULL,
    # and NaN quality (Spark orders NaN greatest, so -q = NaN sorts after
    # +inf) is the worst scored doc instead of losing to NULL.  All-null
    # clusters resolve to their lowest id on the tie key.
    best = labeled.groupBy("cluster").agg(
        F.min_by(
            F.col(id_col),
            F.struct(
                # scored (0) strictly beats unscored (1)
                F.col(quality_col).isNull().cast("int").alias("unscored"),
                (-F.col(quality_col)).cast("double").alias("nq"),  # min(-q) = max q
                F.col(id_col).alias("tie"),  # ties -> lowest id, any type
            ),
        ).alias(id_col)
    )
    uncovered = df.select(id_col).join(
        clusters.select(id_col), id_col, "left_anti"
    )
    keep = best.select(id_col).unionByName(uncovered)
    return df.join(keep, id_col, "left_semi")


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup pairs via the banded hamming join: the 48-bit
    signature splits into ``bands`` equal chunks; any pair within hamming
    distance ``bands - 1`` must share at least one unchanged chunk
    (pigeonhole), so for ``max_hamming <= bands - 1`` the banded equi-join
    is EXACT — no recall loss, no quadratic self-join.  Returns
    (a, b, hamming).

    Zero joins: the (id, simhash) pair rides THROUGH the (band, chunk)
    buckets as a struct, so candidate pairs come out already carrying both
    signatures and the ``bit_count(xor)`` verify is row-local — the
    previous shape joined the signature table back twice (2 extra shuffles
    + 2 recomputes of the signature UDF).  ``max_bucket`` is the
    posting-list cap (a chunk bucket bigger than this is exact-dup mass;
    dedup_exact first); with the cap on, a pair ALL of whose shared chunks
    live in over-cap buckets is dropped (that is the cap's documented
    semantics), while a pair with any surviving shared chunk is kept —
    cross-band dedup then runs at the pair level; uncapped, dedup is the
    zero-shuffle first-matching-band ownership filter."""
    chunk_bits = 48 // bands
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded join is only exact for max_hamming <= bands-1 "
            f"({bands - 1}); got {max_hamming} — raise `bands`"
        )
    sigs = simhash48(df, text_col, id_col).select(id_col, "simhash")
    chunk_entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright(F.col("simhash"), k * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("bucket"),
            )
            for k in range(bands)
        ]
    )
    member = F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))
    banded = sigs.select(
        member.alias("_m"), F.explode(chunk_entries).alias("_e")
    ).select("_m", F.col("_e.band").alias("band"), F.col("_e.bucket").alias("bucket"))
    # hamming verify INSIDE the pair expansion (see _pairs_in_list): one
    # xor + bit_count per scanned candidate, so a big bucket's quadratic
    # candidate set is scanned but only near-pairs ever become rows
    pairs = _expand_bucket_pairs(
        banded,
        "band",
        max_bucket,
        pair_pred=lambda a, b: F.bit_count(
            a["s"].bitwiseXOR(b["s"])
        ) <= max_hamming,
    ).select(
        "band",
        F.col("_p.a.i").alias("a"),
        F.col("_p.b.i").alias("b"),
        F.col("_p.a.s").alias("_sa"),
        F.col("_p.b.s").alias("_sb"),
    )
    # per-chunk collision flags, recomputed row-local from the carried
    # signatures (see _dedup_cross_band for the capped/uncapped trade)
    chunk_mask = (1 << chunk_bits) - 1
    match_flags = F.array(
        *[
            F.shiftright(F.col("_sa"), k * chunk_bits).bitwiseAND(
                F.lit(chunk_mask)
            )
            == F.shiftright(F.col("_sb"), k * chunk_bits).bitwiseAND(
                F.lit(chunk_mask)
            )
            for k in range(bands)
        ]
    )
    # verify BEFORE cross-band dedup: bit_count(xor) is row-local and
    # cheap, and it shrinks the capped path's pair-level groupBy shuffle
    # from ALL candidates (O(sum bucket^2)) to just the near-pairs — the
    # duplicate work it re-does is one xor per extra band collision,
    # nothing vs a shuffle of the full candidate set
    verified = pairs.withColumn(
        "hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    ).filter(F.col("hamming") <= max_hamming)
    return _dedup_cross_band(
        verified, match_flags, "band", max_bucket, ["hamming"]
    ).select("a", "b", "hamming")


def hamming_banded_pairs(
    sigs: DataFrame,
    total_bits: int = 64,
    max_hamming: int = 3,
    bands: int = 4,
    sig_col: str = "sig",
    id_col: str = "id",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Generic banded-Hamming near-pair join over ANY integer fingerprint
    column (SimHash, perceptual image hashes, feature sketches): the
    ``total_bits``-bit signature splits into ``bands`` equal chunks, and a
    pair within hamming distance ``bands - 1`` must share an unchanged
    chunk (pigeonhole) — so for ``max_hamming <= bands - 1`` the banded
    equi-join is EXACT.  Returns (a, b, hamming).

    Same fused plan as :func:`simhash_near_pairs` (which predates this
    generalization and keeps its 48-bit specialization): the (id, sig)
    struct rides through the (band, chunk) buckets, ``bit_count(xor)``
    verifies inside the pair-expansion lambda's downstream filter, and
    cross-band duplicates die via first-matching-band ownership (uncapped)
    or a candidate-level dedup (capped).  ONE shuffle uncapped."""
    if total_bits % bands:
        raise ValueError(f"bands {bands} must divide total_bits {total_bits}")
    chunk_bits = total_bits // bands
    if max_hamming > bands - 1:
        raise ValueError(
            f"banded join is only exact for max_hamming <= bands-1 "
            f"({bands - 1}); got {max_hamming} — raise `bands`"
        )
    chunk_mask = (1 << chunk_bits) - 1
    chunk_entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright(F.col(sig_col), k * chunk_bits)
                .bitwiseAND(F.lit(chunk_mask))
                .alias("bucket"),
            )
            for k in range(bands)
        ]
    )
    member = F.struct(F.col(id_col).alias("i"), F.col(sig_col).alias("s"))
    banded = sigs.select(
        member.alias("_m"), F.explode(chunk_entries).alias("_e")
    ).select(
        "_m", F.col("_e.band").alias("band"), F.col("_e.bucket").alias("bucket")
    )
    pairs = _expand_bucket_pairs(
        banded,
        "band",
        max_bucket,
        pair_pred=lambda a, b: F.bit_count(
            a["s"].bitwiseXOR(b["s"])
        ) <= max_hamming,
    ).select(
        "band",
        F.col("_p.a.i").alias("a"),
        F.col("_p.b.i").alias("b"),
        F.col("_p.a.s").alias("_sa"),
        F.col("_p.b.s").alias("_sb"),
    )
    match_flags = F.array(
        *[
            F.shiftright(F.col("_sa"), k * chunk_bits).bitwiseAND(
                F.lit(chunk_mask)
            )
            == F.shiftright(F.col("_sb"), k * chunk_bits).bitwiseAND(
                F.lit(chunk_mask)
            )
            for k in range(bands)
        ]
    )
    verified = pairs.withColumn(
        "hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    ).filter(F.col("hamming") <= max_hamming)
    return _dedup_cross_band(
        verified, match_flags, "band", max_bucket, ["hamming"]
    ).select("a", "b", "hamming")


def _simhash48_udf():
    """Arrow-batched SimHash-48: text -> signed per-bit term-frequency
    votes -> packed 48-bit long, entirely row-local.

    Replaces the explode(doc x token) + 48-conditional-sum hash agg: same
    exact integers (bit b of md5's first 12 hex chars, +count/-count votes,
    strict > 0 sign rule — all integer arithmetic, so DuckDB-oracle
    parity is bit-for-bit), but ZERO shuffle and the 48-bit vote matrix is
    one numpy broadcast per doc instead of 48 interpreted sum expressions
    over shuffled token rows — measured ~3x faster at sf0.1 and the
    shuffle it removes is O(corpus tokens) at 100 TB."""
    import hashlib

    import numpy as np

    _BITS = np.arange(48, dtype=np.uint64)

    @F.pandas_udf("long")
    def udf(texts: pd.Series) -> pd.Series:
        # Fully batch-vectorized: one flat token array for the whole Arrow
        # batch, factorized so each DISTINCT token is md5'd once (corpus
        # vocabulary repeats heavily across docs), per-(doc, token) counts
        # from one np.unique over a packed key, and the 48-bit vote matrix
        # accumulated with a single np.add.at — no per-doc Python loops.
        # All-integer arithmetic, so results are bit-identical to both the
        # scalar formulation and the DuckDB oracle.
        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        valid = texts.notna().to_numpy()
        toks = texts[valid].str.split(" ")
        if len(toks):
            lens = toks.str.len().to_numpy()
            flat = np.concatenate([np.asarray(t, dtype=object) for t in toks])
            doc_idx = np.repeat(np.arange(len(lens)), lens)
            codes, uniques = pd.factorize(flat)
            nv = len(uniques)
            hvals = np.fromiter(
                (
                    int(hashlib.md5(u.encode()).hexdigest()[:12], 16)
                    for u in uniques
                ),
                dtype=np.uint64,
                count=nv,
            )
            key = doc_idx.astype(np.int64) * nv + codes
            ukey, ucnt = np.unique(key, return_counts=True)
            udoc = ukey // nv
            ucode = ukey % nv
            votes = np.zeros((len(lens), 48), dtype=np.int64)
            # chunk the (doc, token) rows so the 48-wide contribution
            # matrix stays tens of MB regardless of Arrow batch size.
            # Within a chunk, accumulate with a sorted segment-reduce
            # (np.add.reduceat) instead of np.add.at: ukey is doc-major
            # sorted, so udoc is nondecreasing and every doc between a
            # chunk's first and last owns >= 1 row inside it (no empty
            # reduceat segments; split('') == [''] gives every valid doc
            # >= 1 token).  add.at is unbuffered scatter — ~13x slower
            # on this shape (r15 measured 3.0 s -> 0.22 s, corpus-sized
            # batch); integer sums are order-free, results identical.
            step = 1 << 17
            for s in range(0, len(ukey), step):
                e = min(s + step, len(ukey))
                ud = udoc[s:e]
                d0, d1 = int(ud[0]), int(ud[-1])
                starts = np.searchsorted(ud, np.arange(d0, d1 + 1))
                bits = ((hvals[ucode[s:e]][:, None] >> _BITS) & 1).astype(
                    np.int64
                )
                contrib = (2 * bits - 1) * ucnt[s:e, None]
                votes[d0 : d1 + 1] += np.add.reduceat(contrib, starts, axis=0)
            sigs = ((votes > 0).astype(np.uint64) << _BITS).sum(axis=1)
            out[valid] = sigs.astype(np.int64)
        res = pd.Series(out, dtype="object")
        res[~valid] = None  # split(null) drops the doc upstream too
        return res

    return udf


def simhash48(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """48-bit SimHash: per-token md5 -> 48-bit int; bit b of the signature
    is 1 iff the term-frequency-weighted sum over tokens of (+1 if bit set
    else -1) > 0.  Portable construction: int(first 12 md5 hex chars, 16)
    fits int64 — identical to SQL ``conv(substring(md5(tok),1,12),16,10)``.

    Row-local Arrow UDF (see :func:`_simhash48_udf` for why); docs whose
    ``text`` is NULL drop out, matching the previous explode shape.  The
    null gate runs on ``text`` BEFORE the UDF (the kernel returns NULL iff
    text is NULL, so the two filters are equivalent): filtering on the UDF
    output made Catalyst push an ``isnotnull`` below the projection and
    evaluate the UDF twice (two ArrowEvalPython nodes — guide §4.4), and a
    pre-UDF column filter additionally reaches the parquet scan as a
    pushed filter."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), _simhash48_udf()(F.col(text_col)).alias("simhash")
    )


def _doc_sig_frame(
    df: DataFrame,
    num_perm: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, _sig: array<long>) — per-doc MinHash signature vector, all
    row-local (works unchanged on streaming DataFrames; the streaming LSH
    operator builds on this)."""
    docs = _with_digests(
        _shingle_array(df, shingle_n, text_col, id_col), num_perm
    )
    return docs.select(F.col(id_col), _sig_col(num_perm).alias("_sig"))


# --- exact duplicate-substring spans (Lee et al. 2022) ----------------------


def duplicate_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    stride: int = 1,
) -> DataFrame:
    """Character spans that occur (exactly) elsewhere in the corpus — the
    ExactSubstr dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), whose reference implementation is a
    single-node suffix array.  The Spark shape: every k-char gram becomes
    a (gram, doc, pos) row; grams whose corpus frequency is >1 mark their
    [pos, pos+k) window; per-doc overlapping windows merge into maximal
    spans with one gaps-and-islands window pass.

    Scale: the gram explode is ~|chars|/stride rows — the heavy but
    linear part.  The corpus-frequency pass is TWO-PHASE EXACT: phase 1
    counts 64-bit gram hashes (the big shuffle ships 8-byte longs, not
    k-char strings — ~15% on the registered query at sf0.1, growing with
    gram width and corpus size), phase 2
    re-verifies the surviving candidates on the gram STRING itself, so a
    hash collision (rate n²/2⁶⁴) can never mark a span — the survivor
    set is only duplicated-or-collided grams, a sliver of the corpus.
    Raise ``stride`` (recall trades for cost) or pre-winnow
    (text.winnow_fingerprints) when chars >> budget.
    Output: (id, span_start, span_end) with 0-based [start, end) char
    offsets, one row per maximal duplicated span.
    """
    # grams is not persisted: both phases re-explode the corpus, which
    # measured faster than one DISK_ONLY materialization of the gram
    # stream at sf1 and sf3 (BASELINE.md "duplicate_spans persisted-gram
    # A/B")
    grams = _char_grams(df, k, text_col, id_col, stride)
    # phase 1: frequency on the 64-bit hash — keep positions whose hash
    # is seen 2+ times.  Semi-join against the duplicated-hash set rather
    # than collecting a posting list per gram — a degenerate gram
    # (boilerplate repeated millions of times) must not materialize as
    # one giant array.
    dup_h = (
        grams.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_h")
    )
    # persist the SURVIVOR SLIVER: cand feeds both the phase-2 string
    # count and the final semi-join, and without a cache each consumer
    # recomputes the corpus gram explode (r7 stage profile, BASELINE.md:
    # 4 explodes at ~45% of total runtime, the whole super-linear part
    # of the sf3 factor).  cand is bounded by the corpus's DUPLICATE
    # MASS — but that mass scales WITH the corpus, so the level is
    # DISK_ONLY, not MEMORY_AND_DISK: the r9 sf30 probe caught
    # MEMORY_AND_DISK blocks that had spilled to disk being read back
    # through BlockManager.maybeCacheDiskBytesInMemory, which allocates
    # ONE heap buffer per block (hundreds of MB at 32 blocks of a
    # multi-GB sliver) across every concurrent task — a read-back
    # promotion OOM the level itself invites under memory pressure.
    # DISK_ONLY streams each consumer pass straight from disk (page
    # cache serves the warm re-read locally), never promotes, and costs
    # ~nothing at bench SF (sliver is tens of MB).
    from pyspark import StorageLevel

    cand = grams.join(dup_h, "_h", "left_semi").persist(
        StorageLevel.DISK_ONLY
    ).transform(_note_persist)
    # phase 2: exact verify on the gram string over the small survivor set
    dup_g = (
        cand.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("_g")
    )
    dup_pos = cand.join(dup_g, "_g", "left_semi").select(id_col, "_p")
    return _merge_islands(dup_pos, k, id_col)


def _char_grams(df, k: int, text_col: str, id_col: str, stride: int):
    """Row-local ``(id, _p, _g, _h)`` k-char gram stream: one row per
    1-based start position, gram string + its 64-bit xxhash."""
    t = F.col(text_col)
    starts = F.when(
        F.length(t) >= k,
        F.sequence(F.lit(1), F.length(t) - (k - 1), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(
            F.col(id_col),
            F.explode(starts).alias("_p"),
            t.alias("_t"),
        )
        .select(
            id_col,
            "_p",
            F.substring(F.col("_t"), F.col("_p"), k).alias("_g"),
        )
        .withColumn("_h", F.xxhash64("_g"))
    )


def _merge_islands(dup_pos, k: int, id_col: str):
    """Per-doc gaps-and-islands merge of marked gram positions into
    maximal [start, end) character spans: a window starting at p covers
    [p, p+k); a new island begins when p exceeds the running max end."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("_p")
    wrun = w.rowsBetween(Window.unboundedPreceding, -1)
    isl = (
        dup_pos.withColumn("_prev_max_end", F.max(F.col("_p") + k).over(wrun))
        .withColumn(
            "_new",
            (F.col("_prev_max_end").isNull())
            | (F.col("_p") > F.col("_prev_max_end")),
        )
        .withColumn(
            "_isl", F.sum(F.col("_new").cast("int")).over(w)
        )
    )
    return (
        isl.groupBy(id_col, "_isl")
        .agg(
            (F.min("_p") - 1).alias("span_start"),
            (F.max("_p") + k - 1).alias("span_end"),
        )
        .select(
            id_col,
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
        )
    )


def decontaminate_spans(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    stride: int = 1,
) -> DataFrame:
    """Character spans of TRAIN documents that occur VERBATIM in an EVAL
    corpus — the span-level decontamination of Lee et al. 2022 §4.2
    (doc-level n-gram overlap reporting is :func:`corpus.
    contamination_check`; this finds the exact characters to cut, fed to
    :func:`remove_duplicate_spans` for the surgery).

    Cross-corpus twin of :func:`duplicate_spans`, same two-phase exact
    discipline: phase 1 intersects 64-bit gram hashes (the train-side
    corpus shuffle ships 8-byte longs; the eval hash set is
    benchmark-sized), phase 2 re-verifies every surviving train gram on
    the STRING against the eval grams restricted to matching hashes —
    a hash collision can never cut training text.  The survivor sliver
    persists (bounded by actual contamination mass) so the train-corpus
    explode runs twice, not three times; the eval side explodes twice
    but is the small side by construction.  ``stride`` thins TRAIN
    positions only — the eval side always enumerates every gram so
    recall of eval text is exact for spans >= k + stride - 1.

    Output: (id, span_start, span_end), 0-based [start, end) char
    offsets of maximal contaminated spans, one row per span.
    """
    from pyspark import StorageLevel

    tg = _char_grams(train, k, text_col, id_col, stride)
    eg = _char_grams(eval_df, k, text_col, id_col, 1)
    eval_h = eg.select("_h").distinct()
    # This sliver is bounded by the OCCURRENCE mass of eval grams in
    # the train corpus — usually tiny (the eval suite is MBs), but a
    # heavily-contaminated/boilerplate corpus scales it with the
    # corpus, so it takes DISK_ONLY like every corpus-proportional
    # persist (BASELINE.md r9 addendum 2: serialized memory-eligible
    # levels re-promote spilled blocks as whole-block heap buffers
    # across all concurrent tasks — the sf30 read-back OOM class).
    cand = tg.join(eval_h, "_h", "left_semi").persist(
        StorageLevel.DISK_ONLY
    ).transform(_note_persist)
    cand_h = cand.select("_h").distinct()
    eval_g = eg.join(cand_h, "_h", "left_semi").select("_g").distinct()
    hit = cand.join(eval_g, "_g", "left_semi").select(id_col, "_p")
    return _merge_islands(hit, k, id_col)


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut every duplicated span out of each document (the Lee et al.
    deploy step), keeping the surviving fragments joined by a single
    space.  Span surgery is row-local: the doc's spans aggregate into a
    sorted array, and one fold walks the text slicing the gaps."""
    agg = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    joined = df.join(agg, id_col, "left")
    t = F.col(text_col)

    def cut(acc, s):
        # acc: struct(pos: cursor, out: fragments)
        frag = F.substring(
            t, acc["pos"] + 1, (s["span_start"] - acc["pos"]).cast("int")
        )
        return F.struct(
            s["span_end"].alias("pos"),
            F.concat(acc["out"], F.array(frag)).alias("out"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("pos"),
        F.array().cast("array<string>").alias("out"),
    )
    folded = F.aggregate(
        F.coalesce("_spans", F.array()),
        init,
        cut,
        lambda acc: F.concat(
            acc["out"], F.array(F.substring(t, acc["pos"].cast("int") + 1, 1 << 30))
        ),
    )
    cleaned = F.trim(
        F.regexp_replace(F.concat_ws(" ", folded), " +", " ")
    )
    return joined.select(
        *[c for c in df.columns if c != text_col],
        cleaned.alias(text_col),
    )
