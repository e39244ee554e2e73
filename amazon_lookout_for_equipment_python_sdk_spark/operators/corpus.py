"""Corpus-preparation operators for LLM-scale training-data pipelines:
benchmark decontamination, document chunking, content-hash splits,
stratified sampling, vocabulary building, exact grouped quantiles.

These extend the reference's data-prep surface (SURVEY §2.14 north star)
with the operations a 100 TB pretraining pipeline runs between dedup and
tokenization.  Everything is built-in Spark SQL functions (JVM, codegen) —
no Python UDFs; every float that reaches an oracle is produced by an
IEEE-deterministic pipeline (see plans/queries.py module doc).

Scale notes per operator are inline; the common theme: the corpus side is
always row-local (shingle/chunk/hash projections), the only shuffles are
per-doc or per-token hash aggregations with map-side partial combine, and
the benchmark side of decontamination is broadcast (eval suites are tiny
relative to a pretraining corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._chunkjoin import bucket_axis, guard_internal, keyed_scan
from .text import exploded_shingles, fingerprint_bucket, tokens

# --- benchmark decontamination ---------------------------------------------


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    shingle_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents that share word n-gram shingles with an
    evaluation benchmark (the standard n-gram decontamination pass run
    before pretraining; n=13 in most published pipelines, parameterized
    here because the synthetic docs are short).

    Returns one row per ``train`` document: ``n_sh`` distinct shingles,
    ``n_hit`` of them that appear anywhere in ``eval_df``, and
    ``contamination`` = n_hit / n_sh (null for docs shorter than the
    shingle width).

    Scale: the eval side is a benchmark suite — thousands of docs vs a
    100 TB corpus — so its distinct shingle set is broadcast and the train
    side never shuffles text: shingling is row-local codegen, the
    membership probe is a broadcast left join on the shingle string, and
    the per-doc rollup is a map-combinable count aggregation keyed by
    ``id_col``.  A left join (not left_semi) keeps the per-doc hit COUNT,
    which callers need to threshold partial contamination.

    Single train pass (r8 recompute audit): docs shorter than the shingle
    width ride through as an ``explode_outer`` NULL-shingle row and are
    counted out by ``count(sh)``, so the old restore-join — a SECOND scan
    of ``train`` plus a broadcast of the per-doc aggregate, which is
    CORPUS-sized (one row per train doc) and therefore a 100-TB hazard —
    is gone: 2 scans (train + eval), one benchmark-sized broadcast, one
    map-combinable agg exchange.
    """
    tr = exploded_shingles(train, shingle_n, text_col, id_col, outer=True)
    ev = (
        exploded_shingles(eval_df, shingle_n, text_col, id_col)
        .select("sh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    hits = tr.join(F.broadcast(ev), "sh", "left")
    agg = hits.groupBy(id_col).agg(
        # count(sh) skips the explode_outer NULL row -> n_sh = 0 for
        # shingle-less docs; their joined _hit is NULL -> n_hit = 0
        F.count("sh").alias("n_sh"),
        F.sum(
            F.when(F.col("sh").isNotNull(), F.coalesce("_hit", F.lit(0)))
            .otherwise(F.lit(0))
        ).alias("n_hit"),
    )
    return agg.select(
        id_col,
        "n_sh",
        "n_hit",
        # null (not 0) for shingle-less docs: "no evidence", and no
        # division by zero under ANSI mode
        F.when(
            F.col("n_sh") > 0,
            F.col("n_hit") / F.col("n_sh").cast("double"),
        ).alias("contamination"),
    )


# --- document chunking ------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 16,
    stride: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size token chunks with overlap
    (stride < chunk_tokens), the standard context-window packing step
    before tokenization.  Output: (id, chunk_idx, chunk_text, n_tokens).

    Row-local throughout: the chunk strings are materialized INSIDE a
    single higher-order ``transform`` over the start-position sequence and
    only then exploded — exploding start positions first and slicing after
    would carry the full token array into every output row (O(tokens²/
    stride) bytes per doc through the explode).  No shuffle at all.
    """
    if not 0 < stride <= chunk_tokens:
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got {stride}/{chunk_tokens}"
        )
    w = tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(" ", F.slice(w, s, chunk_tokens)).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.size(w) - s + 1).alias("n_tokens"),
        ),
    )
    keep = [c for c in df.columns if c not in (text_col,)]
    return (
        df.select(*keep, F.posexplode(chunks).alias("chunk_idx", "_c"))
        .select(
            *keep,
            "chunk_idx",
            F.col("_c.chunk_text").alias("chunk_text"),
            F.col("_c.n_tokens").alias("n_tokens"),
        )
    )


# --- content-hash split -----------------------------------------------------


def hash_split(
    df: DataFrame,
    text_col: str = "text",
    train_pct: int = 90,
    valid_pct: int = 5,
    split_col: str = "split",
) -> DataFrame:
    """Assign each document to train/valid/test by CONTENT hash (md5 of the
    text, mod 100) — the split survives re-sharding, re-ordering, and
    dedup, and exact duplicates always land in the same split (no
    train/test leakage through dups), which row-number or random splits
    don't guarantee.  Row-local, zero shuffle.
    """
    if not 0 < train_pct + valid_pct < 100:
        raise ValueError("train_pct + valid_pct must be in (0, 100)")
    b = fingerprint_bucket(F.col(text_col), 12) % 100
    return df.withColumn(
        split_col,
        F.when(b < train_pct, "train")
        .when(b < train_pct + valid_pct, "valid")
        .otherwise("test"),
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    salt: str = "",
    shard_col: str = "shard",
    key_col: str = "sort_key",
) -> DataFrame:
    """Deterministic per-epoch training-order shuffle: every document
    gets a ``sort_key = md5(epoch:salt:id)`` and a
    ``shard = key mod n_shards`` — a different, reproducible global
    permutation each epoch, with documents spread uniformly over shards.

    This is the "reshuffle the corpus between epochs" step every
    training pipeline needs, done without randomness: re-running the
    same epoch yields byte-identical order (resumable jobs, bug
    reproduction), and no driver-side state or RNG seed files exist to
    lose.  Row-local, zero shuffle here; the intended writer is
    ``df.repartition(n_shards, shard).sortWithinPartitions(shard, key)``
    + ``write.partitionBy(shard)``, which shuffles ONCE on the shard id —
    never a global sort.  Lead the within-partition sort with the shard
    column: the dynamic-partition writer re-sorts each task by its
    partition columns when input is unsorted, and that sort is NOT
    stable — pre-sorting (shard, key) satisfies it so it never runs.

    Contrast with ``F.rand(seed)``: rand is seeded PER-PARTITION, so the
    assignment changes whenever the input's partitioning does; the
    content-derived md5 key survives re-sharding, compaction, and
    re-ordering of the source — the same property :func:`hash_split`
    relies on.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = F.md5(
        F.concat(
            F.lit(f"{int(epoch)}:{salt}:"), F.col(id_col).cast("string")
        )
    )
    bucket = F.conv(F.substring(key, 1, 12), 16, 10).cast("long")
    return df.withColumn(key_col, key).withColumn(
        shard_col, F.pmod(bucket, F.lit(n_shards)).cast("int")
    )


# --- stratified deterministic sampling --------------------------------------


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    n_per_stratum: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefilter_buckets: int | None = None,
) -> DataFrame:
    """Deterministic stratified sample: the first ``n_per_stratum`` docs of
    each stratum in content-hash order (md5 of text, id tie-break) — an
    unbiased, reproducible subsample whose membership is independent of
    row order and partitioning.

    Scale: the naive shape is one sort per stratum (a window), which on a
    10 TB stratum is a huge sort for a tiny output.  ``prefilter_buckets``
    is the scale path: rows are first cut to ``hash % prefilter_buckets ==
    0`` — a row-local filter that keeps ~1/buckets of each stratum — and
    only the survivors are sorted.  Choose buckets ≲ stratum_size /
    (10 · n_per_stratum) so the prefilter keeps comfortably more than
    ``n_per_stratum`` rows per stratum; membership equals the unfiltered
    sample's whenever every kept rank < n_per_stratum survives, which the
    10× margin makes overwhelmingly likely (hash ranks are uniform).
    """
    h = fingerprint_bucket(F.col(text_col), 12)
    out = df
    if prefilter_buckets is not None and prefilter_buckets > 1:
        out = out.filter(h % prefilter_buckets == 0)
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


# --- vocabulary / token frequency ------------------------------------------


def token_vocab(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary: per token, total occurrence ``count`` and
    document frequency ``doc_freq`` — the input to vocab pruning, IDF
    weighting, and tokenizer training.

    Two-level aggregation: explode → (doc, token) count → (token) rollup.
    Both levels are hash aggregations with map-side partial combine; the
    second shuffles one row per (doc, distinct token), already a small
    fraction of corpus bytes.  Hot tokens ("the") are naturally combined
    map-side, so token skew does not concentrate on one reducer.
    """
    tf = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    return tf.groupBy("token").agg(
        F.sum("_tf").alias("count"), F.count(F.lit(1)).alias("doc_freq")
    )


# --- exact grouped quantiles ------------------------------------------------


def group_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact linear-interpolated quantiles of ``value_col`` per group
    (corpus length-distribution reporting).  One output row per group with
    a ``q<percent>`` column per requested quantile.

    Implemented as explicit order statistics + the textbook
    interpolation ``v[lo] + (v[hi]−v[lo])·frac`` rather than
    ``percentile()``, so the arithmetic is bit-identical across engines
    (each step is a single IEEE op on exact integers).

    COUNT-BASED since r9 (the mad_robust_outliers rewrite, BASELINE.md
    r9 addendum 3): ``groupBy(group, value).count()`` is a map-side-
    combinable aggregate bounded by the DISTINCT-VALUE domain, and the
    rank-r order statistic is the value whose cumulative-count range
    covers r — so the corpus never takes a per-group SORT.  The pre-r9
    row_number shape serialized each group's full sort onto one task
    (billions of rows per source at corpus scale); now the only
    corpus-sized operation is the combinable count shuffle, and the
    rank windows run over the tiny counts table.  Bit-identical: the
    0-based rank r row's value is the v with cum−c ≤ r < cum, and the
    interpolation applies the same IEEE ops to the same three numbers.
    """
    v = F.col(value_col)
    counts = df.select(group_col, v).groupBy(group_col, v).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(v)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
        "_cnt", F.sum("_c").over(Window.partitionBy(group_col))
    )
    aggs = []
    for q in qs:
        pos = (F.col("_cnt") - 1) * F.lit(q)  # constant per group
        lo, hi = F.floor(pos), F.ceil(pos)
        covers_lo = (F.col("_cum") - F.col("_c") <= lo) & (lo < F.col("_cum"))
        covers_hi = (F.col("_cum") - F.col("_c") <= hi) & (hi < F.col("_cum"))
        vlo = F.max(F.when(covers_lo, v))
        vhi = F.max(F.when(covers_hi, v))
        frac = F.max(pos - lo)  # constant within the group
        aggs.append((vlo + (vhi - vlo) * frac).alias(f"q{int(q * 100)}"))
    return cum.groupBy(group_col).agg(*aggs)


# --- tf-idf term weighting --------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` terms per document by tf·idf with the LINEAR idf variant
    ``idf = N / doc_freq`` — chosen over log-idf deliberately: every step
    (integer multiply, one IEEE divide) is bit-identical across engines,
    while ``ln`` implementations are only 1-ulp-accurate and may disagree.
    Ranking is deterministic (score desc, token asc tie-break).

    Output: (id, token, tf, doc_freq, tfidf).

    Scale: tf and doc_freq are the same two map-combinable aggregations as
    :func:`token_vocab`.  The tf→doc_freq join is deliberately NOT
    broadcast: a web-scale corpus has 1e8+ distinct tokens, so collecting
    the vocabulary to the driver would OOM.  tf is already hash-partitioned
    by (id, token) from its groupBy and dfreq by token from its own — the
    token-keyed shuffle hash join Catalyst picks unhinted reuses dfreq's
    exchange and only re-keys tf, which is the scale-safe plan.  N rides in
    as a 1-row broadcast cross join.  The final top-k window partitions by
    document — thousands of rows each at most, no skew hotspot.

    The tf table persists DISK_ONLY: dfreq derives from it and the join
    consumes it again, and Catalyst clones the subtree per consumer —
    without the persist the corpus text EXPLODES twice (r15 plan audit;
    same fix as the cms/dsir count tables).  tf is (doc, distinct-term)
    sized — far smaller than the token stream it summarizes.
    """
    from pyspark import StorageLevel

    from .._persist import note_persist

    tf = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.DISK_ONLY)
        .transform(note_persist)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = df.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("_n")) / F.col("doc_freq").cast("double"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(id_col, "token", "tf", "doc_freq", "tfidf")
    )


# --- PII / URL redaction ----------------------------------------------------

#: (pattern, replacement) pairs applied IN ORDER — order matters: emails
#: redact before bare digit runs so an address's digits don't half-redact.
#: Patterns stay in the regex subset Java (Spark) and RE2 (DuckDB) agree
#: on: character classes, +/{n,} quantifiers — no backrefs, no lookaround.
REDACTION_RULES: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^ ]+", "<URL>"),
    (r"[0-9]{6,}", "<NUM>"),
)


def redact_text(
    col: Column, rules: tuple[tuple[str, str], ...] = REDACTION_RULES
) -> Column:
    """Scrub PII-ish spans (emails, URLs, long digit runs) from a text
    column — the standard pre-training redaction pass.  Pure
    ``regexp_replace`` chain: row-local, whole-stage codegen, replacements
    applied in rule order (each rule sees the previous rule's output,
    exactly like the SQL oracle's nested regexp_replace calls)."""
    out = col
    for pat, repl in rules:
        out = F.regexp_replace(out, pat, repl)
    return out


# --- sequence packing -------------------------------------------------------


def pack_documents(
    df: DataFrame,
    budget_tokens: int = 2048,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence-packing plan: assign each document to a training pack of
    ~``budget_tokens`` whitespace tokens, preserving deterministic
    (group, id) order — the complement of :func:`chunk_documents` (that
    splits long docs; this bins short ones).

    Pack assignment is the boundary-crossing rule: a doc starts in the
    pack numbered ``prev_cumsum // budget`` (prev_cumsum = running token
    total of earlier docs in its group) — a pack may overrun the budget by
    at most one document, the standard approximate-packing trade that
    keeps the rule a pure running sum.  Exact greedy reset-on-overflow
    packing is order-dependent and non-associative (needs a sequential
    scan per group); this formulation is one window cumsum — integer
    arithmetic end-to-end, so the oracle matches bit-for-bit.

    Returns (id, group, n_tokens, pack_id, pack_offset): ``pack_offset``
    is the doc's token start position within its group's concatenated
    stream, ``pack_id`` is per-group.

    Scale: one shuffle (hash partition by group) + per-group sort window.
    A skewed group follows the same time-bucket pre-split recipe as
    ``sessionize`` if ever needed; pack ids are derived from the cumsum so
    the split/merge is exact.
    """
    n_tok = F.size(F.split(F.col(text_col), " "))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        df.select(id_col, group_col, n_tok.alias("n_tokens"))
        .withColumn("pack_offset", (cum - F.col("n_tokens")).cast("long"))
        .withColumn(
            "pack_id",
            F.floor(F.col("pack_offset") / F.lit(budget_tokens)).cast("long"),
        )
    )


def pack_documents_chunked(
    df: DataFrame,
    budget_tokens: int = 2048,
    bucket_span_ids: int = 100_000,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Skew-safe :func:`pack_documents`: identical output (property-
    tested, null group keys and null ids included), with the per-group
    token cumsum parallel across (group, id-bucket) tasks — the scale
    path when one monolithic source would otherwise serialize its whole
    corpus slice onto a single task's window sort (the last member of
    the serialized-sort-cliff class, r11 verdict #4; group_quantiles
    and pack_documents_greedy's ``scan_rows`` escaped it earlier).

    The pack cumsum is a prefix sum: see
    :func:`~._chunkjoin.keyed_scan`.  The bucket axis is
    ``floor(id / bucket_span_ids)`` — value-based on the SAME axis the
    plain window sorts, so bucket order IS id order and the split is
    row-local (no row_number pre-pass, which would itself pay the
    serialized sort).

    Requires a NUMERIC ``id_col`` (the value-based bucket axis); string
    ids use the plain form or :func:`pack_documents_greedy` with
    ``scan_rows``.  Ties on (group, id): same nondeterminism contract
    as the plain form (ids are unique per group by contract).  Worth
    it once a group's rows exceed the per-task window sort budget
    (``operators.routing.route("pack_documents")`` routes on a
    probe)."""
    # guard only the three columns the twin actually stages through the
    # prefix-sum join: the full-frame check spuriously rejected inputs
    # carrying an unrelated _m/_c payload column that never enters the
    # chunked plan (r12 ADVICE)
    guard_internal(df.select(id_col, group_col, text_col))
    if not df.schema[id_col].dataType.typeName() in (
        "long", "integer", "short", "byte",
    ):
        raise ValueError(
            f"pack_documents_chunked needs a numeric id_col; "
            f"{id_col} is {df.schema[id_col].dataType.simpleString()} — "
            "use pack_documents or pack_documents_greedy(scan_rows=...)"
        )
    n_tok = F.size(F.split(F.col(text_col), " "))
    rows = df.select(
        id_col, group_col, n_tok.alias("n_tokens")
    ).withColumn("_b", bucket_axis(id_col, bucket_span_ids, "id"))
    cum = keyed_scan(
        rows, [group_col], [id_col], {"_cum": ("sum", "n_tokens")}
    )
    return (
        cum.withColumn(
            "pack_offset", (F.col("_cum") - F.col("n_tokens")).cast("long")
        )
        .withColumn(
            "pack_id",
            F.floor(F.col("pack_offset") / F.lit(budget_tokens)).cast(
                "long"
            ),
        )
        .select(id_col, group_col, "n_tokens", "pack_offset", "pack_id")
    )


def assemble_packs(
    df: DataFrame,
    budget_tokens: int = 512,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """Materialize the training EXAMPLES from the :func:`pack_documents`
    assignment: one row per (group, pack) with the member documents
    concatenated in id order — the final assembly step that turns a
    packed corpus into fixed-budget sequences.

    Deterministic concatenation without an ordered-agg builtin:
    ``array_sort(collect_list(struct(id, text)))`` sorts the collected
    structs by id (collect_list alone is partition-order-dependent), then
    a transform+array_join emits the joined text — all engine-side.

    Scale: the cumsum window shuffles once on the group key; the
    (group, pack) agg re-exchanges only assembled-pack-sized rows.  A
    pack's text is bounded by ``budget_tokens`` (+ one overrun doc), so
    rows stay flat-file friendly."""
    n_tok = F.size(F.split(F.col(text_col), " "))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = (
        df.select(id_col, group_col, text_col)
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "pack_id",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / F.lit(budget_tokens)
            ).cast("long"),
        )
    )
    return _assemble_from_pre(pre, group_col, text_col, id_col, sep)


def _assemble_from_pre(
    pre: DataFrame, group_col: str, text_col: str, id_col: str, sep: str
) -> DataFrame:
    """Shared back half of the two assemble forms: the (group, pack)
    rollup over a frame carrying (id, group, text, n_tokens, pack_id).
    Already parallel by (group, pack) — only the assignment cumsum
    differs between plain and chunked."""
    agg = pre.groupBy(group_col, "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col(id_col).alias("i"), F.col(text_col).alias("t"))
            )
        ).alias("_members"),
    )
    return agg.select(
        group_col,
        "pack_id",
        "n_docs",
        "pack_tokens",
        F.array_join(
            F.transform(F.col("_members"), lambda s: s["t"]), sep
        ).alias("packed_text"),
    )


def assemble_packs_chunked(
    df: DataFrame,
    budget_tokens: int = 512,
    bucket_span_ids: int = 100_000,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """Skew-safe :func:`assemble_packs`: the assignment cumsum runs
    through :func:`pack_documents_chunked` (see its doc for the
    numeric-id contract); the (group, pack) rollup is shared with the
    plain form and was already parallel.  The text column rejoins the
    assignment on (group, id) — an equi-join on the twin's own output,
    null-safe on both (null ids pack via the sentinel bucket and must
    rejoin their text row)."""
    assign = pack_documents_chunked(
        df,
        budget_tokens=budget_tokens,
        bucket_span_ids=bucket_span_ids,
        group_col=group_col,
        text_col=text_col,
        id_col=id_col,
    )
    # renamed join keys: assign derives from df, so joining back on the
    # shared names trips Spark's ambiguous-self-join analysis
    txt = df.select(
        F.col(id_col).alias("_aj_i"),
        F.col(group_col).alias("_aj_g"),
        text_col,
    )
    pre = assign.join(
        txt,
        on=[
            F.col(group_col).eqNullSafe(F.col("_aj_g")),
            F.col(id_col).eqNullSafe(F.col("_aj_i")),
        ],
        how="inner",
    ).select(id_col, group_col, text_col, "n_tokens", "pack_id")
    return _assemble_from_pre(pre, group_col, text_col, id_col, sep)


def pack_documents_greedy(
    df: DataFrame,
    budget_tokens: int = 2048,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    scan_rows: int | None = None,
) -> DataFrame:
    """EXACT greedy packing — the reset-on-overflow rule
    :func:`pack_documents` documents as its trade: walk each group's docs
    in id order, open a new pack whenever adding the doc would overflow
    the budget (docs larger than the budget get a pack of their own).
    Packs never exceed ``budget_tokens`` except for single oversize docs.

    The scan is order-dependent and non-associative, so it runs as an
    Arrow-batched ``applyInPandas`` per group (one shuffle on the group
    key) — the same trade as the stateful streaming operators.  Use the
    windowed :func:`pack_documents` when approximate boundaries are
    acceptable; this when the hard cap matters (e.g. fixed-length
    training buffers).

    Memory bound: by default ONE GROUP's rows materialize in a single
    pandas frame per task — fine when groups are bounded (the ``source``
    cardinality contract), wrong for a 100-TB monolithic group.  Pass
    ``scan_rows`` to cap the scan: a row_number window pre-splits each
    group into chunks of ≤ ``scan_rows`` docs and the greedy scan runs
    per (group, chunk), so peak task memory is O(scan_rows) regardless of
    group size.  The hard cap is preserved (no pack crosses a chunk
    seam); the trade is a possibly part-filled final pack per chunk, and
    pack ids become ``chunk * scan_rows + local`` — unique and monotone
    in document order, with gaps between chunks."""
    import pandas as pd  # noqa: F811 — worker-side import

    # mirror the input's id/group types — a string doc_id or an int group
    # key must survive the Arrow round trip unchanged
    id_t = df.schema[id_col].dataType.simpleString()
    group_t = df.schema[group_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_t}, {group_col} {group_t}, n_tokens int, "
        "pack_id long, pack_offset long"
    )

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        base = int(pdf["_chunk"].iloc[0]) * scan_rows if scan_rows else 0
        toks = pdf[text_col].str.split(" ").str.len().astype(int)
        pack, fill, offs, packs = 0, 0, [], []
        for n in toks:
            if fill and fill + n > budget_tokens:
                pack += 1
                fill = 0
            offs.append(fill)
            packs.append(base + pack)
            fill += n
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                group_col: pdf[group_col].to_numpy(),
                "n_tokens": toks.to_numpy(),
                "pack_id": packs,
                "pack_offset": offs,
            }
        )

    narrow = df.select(id_col, group_col, text_col)
    if scan_rows is None:
        return narrow.groupBy(group_col).applyInPandas(walk, schema=out_schema)
    rn = F.row_number().over(Window.partitionBy(group_col).orderBy(id_col))
    chunked = narrow.withColumn(
        "_chunk", ((rn - 1) / F.lit(scan_rows)).cast("long")
    )
    return chunked.groupBy(group_col, "_chunk").applyInPandas(
        walk, schema=out_schema
    )


# --- temperature-based mixture sampling -------------------------------------


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    target_fraction: float = 0.3,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture resampling: draw a ``target_fraction`` of
    the corpus with per-group budgets proportional to ``p_g ** alpha``
    (renormalized) instead of the raw group shares ``p_g`` — the
    multilingual-LLM upsampling rule (alpha < 1 flattens the mixture so
    low-resource groups keep representation; alpha = 1 is proportional,
    alpha = 0 uniform-by-group).

    Membership is DETERMINISTIC: a doc is kept iff its content-hash
    millionth (md5 of ``text_col``) falls below its group's quantized keep
    rate — reproducible across runs, re-sharding, and engines, and exact
    duplicates stay together.  A group whose budget exceeds its size caps
    at keeping everything (no replacement; true upsampling with
    repetition is a downstream concern).

    Scale: two scans — (1) per-group counts (map-combinable hash agg,
    output = |groups| rows), (2) row-local hash filter against the
    broadcast rate table.  No shuffle of the corpus itself, any group
    cardinality.

    Float discipline (oracle-parity): weights quantize to integer
    millionths immediately after the one ``sqrt``/``pow`` (for
    ``alpha=0.5`` the expression is ``sqrt`` — correctly-rounded IEEE in
    every engine; other alphas use ``pow``, whose last bit is libm's),
    and every downstream op is integer or a single fixed-shape double
    expression, so keep decisions are bit-stable."""
    from ..operators.text import fingerprint_bucket

    if not 0 < target_fraction <= 1:
        raise ValueError("target_fraction must be in (0, 1]")
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    # totals via a single-partition window over the GROUP-COUNT frame
    # (|groups| rows — the corpus itself never sees a global window);
    # avoids the self-join lineage a counts x agg(counts) crossJoin makes
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # NB name discipline: Spark resolves columns case-insensitively by
    # default, so "_N" would silently REPLACE "_n" in withColumn — totals
    # use distinct lowercase names
    counts = counts.withColumn("_n_tot", F.sum("_n").over(wall))
    share = F.col("_n").cast("double") / F.col("_n_tot").cast("double")
    wexpr = (
        F.sqrt(share) if alpha == 0.5 else F.pow(share, F.lit(float(alpha)))
    )
    weights = counts.select(
        group_col, "_n", "_n_tot", F.floor(wexpr * 1_000_000).alias("_wm")
    ).withColumn("_w_tot", F.sum("_wm").over(wall))
    tf_milli = int(round(target_fraction * 1_000_000))
    # fixed-shape double expression, identical tree in the SQL oracle:
    # rate = min(1, tf * n_tot * w / (w_tot * n)) in millionths
    rate = F.floor(
        F.least(
            F.lit(1_000_000.0),
            (
                F.lit(float(tf_milli))
                * F.col("_n_tot").cast("double")
                * F.col("_wm")
            )
            / (F.col("_w_tot").cast("double") * F.col("_n")),
        )
    )
    rates = weights.select(group_col, rate.alias("_rate_milli"))
    h = fingerprint_bucket(F.col(text_col), 12) % 1_000_000
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(h < F.col("_rate_milli"))
        .drop("_rate_milli")
    )


# --- corpus-wide line dedup (C4-style) --------------------------------------


def line_dedup_first(
    lines: DataFrame,
    line_col: str = "line",
    id_col: str = "doc_id",
    pos_col: str = "line_pos",
) -> DataFrame:
    """Corpus-WIDE exact line dedup, first occurrence wins (the C4 /
    RefinedWeb "remove repeated lines across documents" step): of every
    set of identical lines anywhere in the corpus, only the one with the
    lexicographically smallest ``(id, pos)`` survives.

    One hash aggregation keyed on the line content: ``min(struct(id,
    pos))`` per line.  Map-side partial aggregation collapses duplicate
    lines per input partition before the shuffle, so the exchange carries
    ~distinct-lines-per-partition rows, not the corpus; there is no
    window function and no join.  Deduping on the raw line (not a hash of
    it) keeps the operator exact — a 64-bit fingerprint key would merge
    colliding distinct lines.

    Output: ``(id_col, pos_col, line_col)`` — the surviving lines; callers
    reassemble documents with ``groupBy(id).agg(concat_ws/sort_array)``.
    """
    return (
        lines.groupBy(line_col)
        .agg(F.min(F.struct(id_col, pos_col)).alias("_w"))
        .select(
            F.col(f"_w.{id_col}").alias(id_col),
            F.col(f"_w.{pos_col}").alias(pos_col),
            line_col,
        )
    )
