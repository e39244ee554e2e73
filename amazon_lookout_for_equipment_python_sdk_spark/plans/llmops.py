"""LLM-data-pipeline query layer: dedup, similarity, text analysis
(BASELINE.json north star; beyond-reference operators over
documents/embeddings testdata)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators.dedup import _PERM_A, _PERM_B, _PERM_P
from .registry import load, load_par, qfloor, register, sql_qfloor
from .._persist import note_persist as _note_persist

#: MinHash permutation table for the oracle, generated from the SAME
#: constants the engine uses (operators/dedup.py) so they cannot drift:
#: perm p of the 48-bit base hash h is (a*h + b) % P — 63-bit-safe BIGINT
#: arithmetic, identical in Spark and DuckDB.
_PERM_VALUES_SQL = ", ".join(
    f"({p}, {a}, {b})" for p, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
)

#: shared sigs/banded CTE tail (applies on top of a `sh` CTE of
#: (doc_id, sh) shingle rows): one md5 per shingle -> 48-bit base hash ->
#: 8 universal-hash permutations -> per-band bucket key joined in
#: permutation order.
_MINHASH_CTES_SQL = f"""h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(sh), 1, 12)) AS BIGINT) AS h48
  FROM sh
), sigs AS (
  SELECT doc_id, p.perm, min((p.a * h48 + p.b) % {_PERM_P}) AS minhash
  FROM h, (VALUES {_PERM_VALUES_SQL}) p(perm, a, b)
  GROUP BY 1, 2
), banded AS (
  SELECT doc_id, perm // 4 AS band,
         string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY perm) AS bucket
  FROM sigs GROUP BY 1, 2
)"""

# ---------------------------------------------------------------------------
# Text stats (quality scoring features)
# ---------------------------------------------------------------------------

_STOP_SQL = "('the', 'a', 'data', 'row')"

_TEXT_STATS_SQL = f"""
SELECT doc_id, lang, n_tokens, n_unique_tokens,
       (n_chars_txt - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
       n_stop / CAST(n_tokens AS DOUBLE) AS stopword_ratio
FROM (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
         length(text) AS n_chars_txt,
         len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL})) AS n_stop
  FROM documents) t
"""


@register("text_stats", _TEXT_STATS_SQL)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality-score features, all-integer until the final
    ratio divisions (bit-portable)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return tx.text_stats(docs).select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_unique_tokens",
        "avg_token_len",
        "stopword_ratio",
    )


_QUALITY_SQL = f"""
SELECT doc_id, n_tokens, stopword_ratio, avg_token_len
FROM (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), t -> t IN {_STOP_SQL}))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
         (length(text) - (len(string_split(text, ' ')) - 1))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
  FROM documents) t
WHERE n_tokens >= 20 AND stopword_ratio <= 0.4
  AND avg_token_len >= 3.0 AND avg_token_len <= 12.0
"""


@register("quality_filter", _QUALITY_SQL)
def quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality gate: length + stopword-ratio + token-shape
    heuristics over text_stats (the standard LLM-corpus cleanup pass)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = tx.quality_filter(
        docs,
        min_tokens=20,
        max_stopword_ratio=0.4,
        min_avg_token_len=3.0,
        max_avg_token_len=12.0,
    )
    return out.select("doc_id", "n_tokens", "stopword_ratio", "avg_token_len")


# ---------------------------------------------------------------------------
# Language-ID heuristic (marker lexicons, deterministic argmax)
# ---------------------------------------------------------------------------

_LANG_SQL = """
WITH s AS (
  SELECT doc_id,
         len(list_filter(string_split(text,' '), t -> t IN ('spark','query','join'))) AS score_code,
         len(list_filter(string_split(text,' '), t -> t IN ('table','scan','merge'))) AS score_db,
         len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS score_en
  FROM documents)
SELECT doc_id, score_code, score_db, score_en,
       CASE
         WHEN score_en > greatest(score_db, score_code, 0) THEN 'en'
         WHEN score_db > greatest(score_code, 0) THEN 'db'
         WHEN score_code > 0 THEN 'code'
         ELSE 'und' END AS pred_lang
FROM s
"""


@register("lang_id_heuristic", _LANG_SQL)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon language-ID: argmax marker count, alphabetical-first
    tie-break ('code' < 'db' < 'en' — later languages must strictly
    exceed)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = tx.lang_id(docs)
    return out.select("doc_id", "score_code", "score_db", "score_en", "pred_lang")


# ---------------------------------------------------------------------------
# Fingerprinting + exact dedup
# ---------------------------------------------------------------------------


@register(
    "doc_fingerprint",
    """
SELECT doc_id, md5(text) AS fp,
       CAST(concat('0x', substr(md5(text), 1, 12)) AS UBIGINT) AS fp_bucket
FROM documents
""",
)
def fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (md5) + numeric shard bucket from its first 12
    hex chars."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.fingerprint(F.col("text")).alias("fp"),
        tx.fingerprint_bucket(F.col("text"), 12).alias("fp_bucket"),
    )


@register(
    "dedup_exact",
    """
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
""",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy fingerprint, canonical min-id."""
    return dd.dedup_exact(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (inverted-index join)
# ---------------------------------------------------------------------------

_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS sh
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), common AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
  FROM sh x JOIN sh y USING (sh)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_common,
       sa.n_sh + sb.n_sh - n_common AS n_union,
       n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE n_common * 1000000 >= 500000 * (sa.n_sh + sb.n_sh - n_common)
"""


@register("ngram_jaccard_pairs", _JACCARD_SQL)
def jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-word-shingle Jaccard >= 0.5 near-dup pairs via inverted-index
    join; integer cross-product threshold (no float compare)."""
    return dd.ngram_jaccard_pairs(
        load_par(spark, sf_dir, "documents"), shingle_n=3, threshold=0.5
    )


_JACCARD_LSH_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS sh
  FROM documents
), {_MINHASH_CTES_SQL}, hd AS (
  -- distinct 48-bit shingle hashes per doc: the engine verifies Jaccard on
  -- these (carry_hashes), so sizes/intersection mirror the hash sets
  SELECT DISTINCT doc_id, h48 FROM h
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM hd GROUP BY 1
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
), common AS (
  SELECT c.a, c.b, count(*) AS n_common
  FROM cand c JOIN hd x ON x.doc_id = c.a JOIN hd y ON y.doc_id = c.b AND y.h48 = x.h48
  GROUP BY 1, 2
)
SELECT a, b, n_common,
       sa.n_sh + sb.n_sh - n_common AS n_union,
       n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE n_common * 1000000 >= 500000 * (sa.n_sh + sb.n_sh - n_common)
"""


@register("ngram_jaccard_lsh", _JACCARD_LSH_SQL)
def jaccard_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB Jaccard path (benched headline): MinHash-LSH candidates
    (row-local signatures, one (band,bucket) groupBy) + exact Jaccard via
    array_intersect on candidate pairs only — no quadratic self-join."""
    return dd.ngram_jaccard_lsh(
        load_par(spark, sf_dir, "documents"), shingle_n=3, threshold=0.5
    )


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs
# ---------------------------------------------------------------------------

_MINHASH_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS sh
  FROM documents
), {_MINHASH_CTES_SQL}
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM banded x JOIN banded y ON x.band = y.band AND x.bucket = y.bucket
WHERE x.doc_id < y.doc_id
"""


@register("minhash_lsh_candidates", _MINHASH_SQL)
def minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 perms, md5-based) + LSH banding (2 bands x 4 rows):
    candidate near-dup pairs from band-bucket collisions.  Band buckets are
    computed row-local (minhash_banded) — the only shuffle is the candidate
    equi-join itself."""
    # fused single-shuffle candidates; posting-list cap wired (far above
    # any bucket this corpus produces, so the oracle SQL — which has no
    # cap — stays value-identical; it exists to bound the quadratic pair
    # expansion on degenerate corpora)
    return dd.minhash_candidate_pairs(
        load_par(spark, sf_dir, "documents"), num_perm=8, bands=2, shingle_n=3,
        max_bucket=10_000,
    )


_NEAR_DUP_CLUSTER_SQL = f"""
WITH RECURSIVE jp AS ({_JACCARD_LSH_SQL.rstrip()}),
edges AS (
  SELECT a AS src, b AS dst FROM jp
  UNION
  SELECT b AS src, a AS dst FROM jp
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster
FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
GROUP BY d.doc_id
"""


@register("near_dup_clusters", _NEAR_DUP_CLUSTER_SQL)
def near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the LSH-verified
    Jaccard pairs; every doc labeled with its component's min id (the
    canonical survivor).  Engine side is iterative min-label propagation
    (O(diameter) joins); oracle side a recursive-CTE closure."""
    docs = load_par(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_lsh(docs, shingle_n=3, threshold=0.5).select(
        "a", "b"
    )
    return dd.near_dup_clusters(docs.select("doc_id"), pairs)


_KEEP_BEST_SQL = f"""
WITH RECURSIVE jp AS ({_JACCARD_LSH_SQL.rstrip()}),
edges AS (
  SELECT a AS src, b AS dst FROM jp
  UNION
  SELECT b AS src, a AS dst FROM jp
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
cl AS (
  SELECT d.doc_id, length(d.text) AS q,
         least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster
  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
  GROUP BY d.doc_id, length(d.text)
),
best AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY q DESC, doc_id) AS rk
    FROM cl) t
  WHERE rk = 1
)
SELECT c.doc_id, CAST(c.q AS BIGINT) AS text_len
FROM cl c JOIN best b ON b.doc_id = c.doc_id
"""


@register("dedup_near_keep_best", _KEEP_BEST_SQL)
def dedup_near_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax near-dedup (r7): cluster near-dups (same
    LSH-verified Jaccard pairs + connected components as
    near_dup_clusters), then keep each cluster's HIGHEST-quality member
    — here quality = char length, the simplest oracle-replayable score;
    production swaps in quality_score or bigram-LM perplexity — with
    ties to the lowest id (operators/dedup.py keep_best_per_cluster:
    one label join, one max_by per cluster, one semi-join — no corpus
    window).  The RefinedWeb/FineWeb keep-best convention vs dedup_near's
    crawl-order-dependent min-id survival."""
    docs = load_par(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_lsh(docs, shingle_n=3, threshold=0.5).select(
        "a", "b"
    )
    clusters = dd.near_dup_clusters(docs.select("doc_id"), pairs)
    kept = dd.keep_best_per_cluster(
        docs.withColumn("q", F.length("text")), clusters, "q"
    )
    return kept.select(
        "doc_id", F.col("q").cast("long").alias("text_len")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
), votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks, (SELECT unnest(generate_series(0, 47)) AS bit) b
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY 1
"""


@register("simhash_fingerprint", _SIMHASH_SQL)
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash from per-token md5 bit votes."""
    out = dd.simhash48(load(spark, sf_dir, "documents"))
    return out.select("doc_id", "simhash")


_SIMHASH_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
), votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks, (SELECT unnest(generate_series(0, 47)) AS bit) b
  GROUP BY 1, 2
), sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY 1
), chunks AS (
  SELECT doc_id, k.k, (simhash >> (k.k * 12)) & 4095 AS chunk
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS k) k
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM chunks x JOIN chunks y ON x.k = y.k AND x.chunk = y.chunk
  WHERE x.doc_id < y.doc_id
)
SELECT a, b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM cand
JOIN sigs sa ON sa.doc_id = a
JOIN sigs sb ON sb.doc_id = b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""


@register("simhash_near_pairs", _SIMHASH_PAIRS_SQL)
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded hamming join: 4 x 12-bit chunks, hamming <= 3 — exact
    by pigeonhole (a pair differing in <= 3 bits shares >= 1 chunk), so no
    quadratic self-join and no recall loss."""
    return dd.simhash_near_pairs(
        load(spark, sf_dir, "documents"), max_hamming=3, bands=4
    )


_BPE_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens_ws,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+')) AS n_tokens_bpe
FROM documents
"""


@register("token_count_bpe", _BPE_SQL)
def token_count_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace and the BPE-ish regex
    pre-tokenizer (letter/digit/punctuation runs)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens_ws"),
        tx.bpe_token_count(F.col("text")).alias("n_tokens_bpe"),
    )


_NEAR_DUP_SQL = f"""
WITH pp AS (
  -- corpus-adaptive planes/table, mirroring similarity.embedding_near_dup
  -- (planes_per_table=None): max(4, ceil(log2(max(n,1) / 64)))
  SELECT greatest(4, CAST(ceil(log2(greatest(count(*), 1) / 64.0)) AS INTEGER)) AS pp
  FROM embeddings
), planes AS (
  SELECT p.p, list_transform(range(0, 64), d ->
    CAST(concat('0x', substr(md5(concat(CAST(p.p AS VARCHAR), '|', CAST(d AS VARCHAR))), 1, 12)) AS BIGINT)
      / 140737488355328.0 - 1.0) AS w
  FROM (SELECT unnest(generate_series(0, (SELECT 4 * pp - 1 FROM pp))) AS p) p
), proj AS (
  SELECT e.vec_id, pl.p // (SELECT pp FROM pp) AS tbl, pl.p % (SELECT pp FROM pp) AS i,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.w) AS proj
  FROM embeddings e, planes pl
), bkt AS (
  SELECT vec_id, tbl, sum(CASE WHEN proj > 0 THEN (1 << i) ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM bkt x JOIN bkt y ON x.tbl = y.tbl AND x.bucket = y.bucket
  WHERE x.vec_id < y.vec_id
)
SELECT a, b, {sql_qfloor('cos', 6)} AS cos FROM (
  SELECT c.a, c.b,
         list_dot_product(va, vb) /
           (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cos
  FROM cand c
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va FROM embeddings) ea ON ea.vec_id = c.a
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings) eb ON eb.vec_id = c.b) t
WHERE cos >= 0.45
"""


@register("embedding_near_dup", _NEAR_DUP_SQL)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: multi-table hyperplane-LSH
    candidates + exact cosine >= 0.45 verify.  Since r7 the registered
    query runs the CORPUS-ADAPTIVE plane count (the production default:
    planes = max(4, ceil(log2(n/64))), so bucket occupancy — and the
    quadratic in-bucket verify — stays ~constant as the corpus grows;
    the fixed-8-plane variant measured 10.9x per 3.33x data at the sf10
    decade, BASELINE.md).  The oracle derives the SAME plane count from
    count(*) in SQL, so it replays the exact bucket layout at any SF —
    md5-derived deterministic planes, bit-for-bit candidate parity."""
    out = sim.embedding_near_dup(
        load(spark, sf_dir, "embeddings"),
        threshold=0.45,
        num_tables=4,
        planes_per_table=None,
        dim=64,
    )
    return out.select("a", "b", qfloor(F.col("cos"), 6).alias("cos"))


# ---------------------------------------------------------------------------
# Cosine top-k similarity search (brute-force baseline)
# ---------------------------------------------------------------------------

_COS_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         {sql_qfloor('list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) / '
                     '(sqrt(list_dot_product(q.qv, q.qv)) * '
                     'sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))', 6)} AS cos
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos FROM (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
  FROM scored) t
WHERE rnk <= 10
"""


@register("cosine_topk", _COS_SQL)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 probe vectors; ranking on the
    quantized cosine so near-ties break deterministically by vec_id.

    The scan is compute-dense (3 sequential 64-element folds per
    (row, probe)) — ``load_par`` spreads the single small-SF row group
    across all cores; no-op once the scan has real partitions."""
    emb = load_par(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q = F.broadcast(queries.withColumnRenamed("embedding", "_qvec"))
    scored = (
        emb.crossJoin(q)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            qfloor(sim.cosine(F.col("_qvec"), F.col("embedding")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .drop("rnk")
    )


#: the ANN oracle mirrors the ENTIRE deterministic pipeline: md5-derived
#: hyperplane weights (w[p][d] = int(md5('p|d')[:12],16)/2^47 - 1 — exact
#: int->double), per-(vec, plane) projections via list_dot_product (the
#: same sequential multiply-add fold the engine's Arrow UDF runs, proven
#: bit-identical by the cosine_topk oracle), strict proj > 0 sign bits
#: packed per table, bucket equi-join candidates, and the exact cosine
#: re-rank on the RAW cosine (quantized only on output, exactly like the
#: engine).  "Approximate" describes the recall contract, not the
#: computation — every step is deterministic, so the oracle matches
#: bit-for-bit.
_LSH_COS_SQL = f"""
WITH pp AS (
  -- corpus-adaptive planes/table, mirroring similarity.lsh_cosine_topk
  -- (planes_per_table=None): max(3, ceil(log2(max(n,1) / 64)))
  SELECT greatest(3, CAST(ceil(log2(greatest(count(*), 1) / 64.0)) AS INTEGER)) AS pp
  FROM embeddings
), pw AS (
  SELECT p.p // (SELECT pp FROM pp) AS t, p.p % (SELECT pp FROM pp) AS i,
         list_transform(range(0, 64), d ->
           CAST(concat('0x', substr(md5(concat(CAST(p.p AS VARCHAR), '|',
                                               CAST(d AS VARCHAR))), 1, 12))
                AS BIGINT) / 140737488355328.0 - 1.0) AS wv
  FROM (SELECT unnest(generate_series(0, (SELECT 16 * pp - 1 FROM pp))) AS p) p
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), proj AS (
  SELECT v.vec_id, w.t, w.i, list_dot_product(v.v, w.wv) AS pr
  FROM vecs v, pw w
), bkt AS (
  SELECT vec_id, t,
         sum(CASE WHEN pr > 0 THEN (1 << i) ELSE 0 END) AS bucket
  FROM proj GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, b.vec_id
  FROM (SELECT * FROM bkt WHERE vec_id < 5) q
  JOIN bkt b ON q.t = b.t AND q.bucket = b.bucket
  WHERE b.vec_id <> q.vec_id
), scored AS (
  SELECT c.query_id, c.vec_id,
         list_dot_product(qv.v, bv.v) /
           (sqrt(list_dot_product(qv.v, qv.v)) *
            sqrt(list_dot_product(bv.v, bv.v))) AS rawcos
  FROM cand c
  JOIN vecs qv ON qv.vec_id = c.query_id
  JOIN vecs bv ON bv.vec_id = c.vec_id
)
SELECT query_id, vec_id, cos FROM (
  SELECT query_id, vec_id, {sql_qfloor('rawcos', 6)} AS cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rawcos DESC, vec_id) AS rnk
  FROM scored) t
WHERE rnk <= 10
"""


@register("lsh_cosine_topk", _LSH_COS_SQL)
def lsh_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN scale path, benched: multi-table hyperplane-LSH candidates
    + exact cosine rank within candidates only (same 5 probes / k=10 as
    ``cosine_topk``, the brute-force baseline it's measured against).
    Since r8 the registered query runs the CORPUS-ADAPTIVE plane count
    (planes = max(3, ceil(log2(n/64))), 16 tables): the r8 decade run
    caught the fixed-3-plane geometry super-linear on the serving path
    (3.2s -> 44.0s over sf1 -> sf10, 4.7x per 3.33x — per-query
    candidates grow linearly with the corpus on top of the scan), the
    same occupancy blowup the r7 adaptive fix removed from
    embedding_near_dup.  At the driver SFs the derivation floors to the
    old 3 planes, where recall >= 0.9 vs brute force holds (asserted in
    tests/test_similarity_dedup.py); tables bound recall, planes bound
    candidate volume.  The oracle derives the SAME plane count from
    count(*), so it replays the exact bucket layout at any SF
    (_LSH_COS_SQL)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.lsh_cosine_topk(
        emb, queries, k=10, num_tables=16, planes_per_table=None
    )
    return out.select(
        "query_id", "vec_id", qfloor(F.col("cos"), 6).alias("cos")
    )


# ---------------------------------------------------------------------------
# int8-quantized cosine top-k (ANN memory scale path)
# ---------------------------------------------------------------------------

_QCOS_SQL = f"""
WITH s AS (
  SELECT max(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x)))) AS sc
  FROM embeddings
), qv AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> CAST(greatest(-127, least(127,
                  floor(x / s.sc * 127.0 + 0.5))) AS BIGINT)) AS q
  FROM embeddings, s
), probes AS (
  SELECT vec_id AS query_id, q AS qq FROM qv WHERE vec_id < 5
), scored AS (
  SELECT p.query_id, v.vec_id,
         list_dot_product(p.qq, v.q) /
           (sqrt(list_dot_product(p.qq, p.qq)) *
            sqrt(list_dot_product(v.q, v.q))) AS rawq
  FROM qv v, probes p WHERE v.vec_id <> p.query_id
)
SELECT query_id, vec_id, qcos FROM (
  SELECT query_id, vec_id, {sql_qfloor('rawq', 6)} AS qcos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rawq DESC, vec_id) AS rnk
  FROM scored) t
WHERE rnk <= 10
"""


@register("quantized_cosine_topk", _QCOS_SQL)
def quantized_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 over int8-QUANTIZED embeddings (symmetric global
    scale, floor(x+0.5) rounding — one IEEE op, engine-portable unlike
    round()): the 4x-memory ANN serving layout.  Scores are exact integer
    dot products; only the final normalization divides, so the oracle is
    bit-identical."""
    emb = load_par(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.dequantized_cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", qfloor(F.col("qcos"), 6).alias("qcos")
    )


# ---------------------------------------------------------------------------
# Embedding L2 normalization
# ---------------------------------------------------------------------------

_L2_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT vec_id,
       unnest(range(len(v))) AS pos,
       unnest(list_transform(v, x -> {sql_qfloor('x / nrm', 9)})) AS component
FROM e
"""


@register("embedding_l2_normalize", _L2_SQL)
def embedding_l2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize the embedding column (the standard pre-ANN step —
    cosine becomes a plain dot product downstream).  Row-local transform;
    the norm is the same sequential fold as every cosine here, so
    per-element values match DuckDB bit-for-bit under 1e-9 quantization.

    The registered query emits SCALAR rows ``(vec_id, pos, component)``
    via posexplode — the driver harness hash-canonicalizes cells with
    pandas, which cannot sort array cells (r4's one red row).  The
    array-shaped operator remains available to API users as the inline
    ``transform`` here, un-exploded."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    )
    unit = F.transform(v, lambda x: qfloor(x / nrm, 9))
    return emb.select(
        "vec_id", F.posexplode(unit).alias("pos", "component")
    ).withColumn("pos", F.col("pos").cast("long"))


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style duplicate-ngram quality signal)
# ---------------------------------------------------------------------------

_REP_SQL = f"""
WITH g AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         list_transform(
           range(1, greatest(len(string_split(text,' ')) - 1, 0) + 1),
           i -> array_to_string((string_split(text,' '))[i:i+1], ' ')) AS grams
  FROM documents
)
SELECT doc_id, n_tokens,
       len(grams) AS n_ngrams,
       len(list_distinct(grams)) AS n_distinct_ngrams,
       {sql_qfloor('(len(grams) - len(list_distinct(grams))) '
                   '/ CAST(len(grams) AS DOUBLE)', 6)} AS dup_ngram_frac
FROM g
WHERE len(grams) > 0
"""


@register("repetition_stats", _REP_SQL)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-bigram fraction per document (Gopher/Rae et al. 2021
    repetition filter): 1 - distinct/total bigrams — the standard
    boilerplate/spam signal for corpus cleanup.  Row-local projection,
    all-int until the final division; docs under 2 tokens drop (0-gram
    denominator)."""
    docs = load(spark, sf_dir, "documents")
    st = tx.repetition_stats(docs, n=2).filter(F.col("n_ngrams") > 0)
    return st.select(
        "doc_id",
        "n_tokens",
        "n_ngrams",
        "n_distinct_ngrams",
        qfloor(
            (F.col("n_ngrams") - F.col("n_distinct_ngrams"))
            / F.col("n_ngrams").cast("double"),
            6,
        ).alias("dup_ngram_frac"),
    )


# ---------------------------------------------------------------------------
# Gopher structural repetition rules (duplicate lines/paragraphs, top-gram)
# ---------------------------------------------------------------------------

_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), l AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) + 1, 2),
                        i -> array_to_string(toks[i:i+1], ' ')) AS ls
  FROM t
), p AS (
  SELECT doc_id,
         list_transform(range(1, len(ls) + 1, 4),
                        j -> array_to_string(ls[j:j+3], chr(10))) AS ps
  FROM l
), d AS (
  SELECT doc_id, array_to_string(ps, chr(10) || chr(10)) AS text2 FROM p
), u AS (
  SELECT doc_id, 'line' AS kind,
         unnest(list_filter(string_split(text2, chr(10)), x -> x != '')) AS u
  FROM d
  UNION ALL
  SELECT doc_id, 'para',
         unnest(list_filter(string_split(text2, chr(10) || chr(10)),
                            x -> x != ''))
  FROM d
  UNION ALL
  SELECT doc_id, 'gram',
         unnest(list_transform(
           range(1, greatest(len(string_split(text2, ' ')) - 1, 0) + 1),
           i -> array_to_string((string_split(text2, ' '))[i:i+1], ' ')))
  FROM d
), c AS (
  SELECT doc_id, kind, u, count(*) AS c FROM u GROUP BY doc_id, kind, u
), k AS (
  SELECT doc_id, kind,
         sum(c) AS n,
         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dn,
         sum(c * length(u)) AS m,
         coalesce(sum(c * length(u)) FILTER (WHERE c > 1), 0) AS dm,
         max(c * length(u)) AS top
  FROM c GROUP BY doc_id, kind
)
SELECT doc_id,
       CAST(max(n) FILTER (WHERE kind = 'line') AS BIGINT) AS n_lines,
       {sql_qfloor("max(dn) FILTER (WHERE kind = 'line') / CAST(max(n) FILTER (WHERE kind = 'line') AS DOUBLE)", 6)} AS dup_line_frac,
       {sql_qfloor("max(dm) FILTER (WHERE kind = 'line') / CAST(max(m) FILTER (WHERE kind = 'line') AS DOUBLE)", 6)} AS dup_line_char_frac,
       CAST(max(n) FILTER (WHERE kind = 'para') AS BIGINT) AS n_paras,
       {sql_qfloor("max(dn) FILTER (WHERE kind = 'para') / CAST(max(n) FILTER (WHERE kind = 'para') AS DOUBLE)", 6)} AS dup_para_frac,
       {sql_qfloor("max(dm) FILTER (WHERE kind = 'para') / CAST(max(m) FILTER (WHERE kind = 'para') AS DOUBLE)", 6)} AS dup_para_char_frac,
       {sql_qfloor("max(top) FILTER (WHERE kind = 'gram') / CAST(max(m) FILTER (WHERE kind = 'gram') AS DOUBLE)", 6)} AS top_ngram_char_frac
FROM k GROUP BY doc_id
"""


@register("gopher_repetition_rules", _GOPHER_SQL)
def gopher_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher structural repetition rules (Rae et al. 2021 §A1.1 — the
    duplicate-line/paragraph family RefinedWeb/Dolma-style pipelines
    gate on; operators/text.gopher_repetition) over the documents
    corpus RESHAPED into multi-line text: 2-token lines, 4-line
    paragraphs, reconstructed identically in the oracle — the flat
    fixture text has no newlines, and the reshape gives the rules real
    signal (181/500 sf0.01 docs carry duplicate 2-token lines).

    Registry budget: new registration completing the quality-rule
    family (repetition_stats covers the duplicate-n-gram axis; this
    adds the structural axes) — margin stays >= 10 (140/150)."""
    docs = load_par(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    lines = F.transform(
        F.sequence(F.lit(1), F.size(toks), F.lit(2)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    paras_expr = F.transform(
        F.sequence(F.lit(1), F.size(lines), F.lit(4)),
        lambda j: F.array_join(F.slice(lines, j, 4), "\n"),
    )
    reshaped = docs.select(
        "doc_id", F.array_join(paras_expr, "\n\n").alias("text2")
    )
    out = tx.gopher_repetition(reshaped, text_col="text2")
    return out.select(
        "doc_id",
        "n_lines",
        qfloor(F.col("dup_line_frac"), 6).alias("dup_line_frac"),
        qfloor(F.col("dup_line_char_frac"), 6).alias("dup_line_char_frac"),
        "n_paras",
        qfloor(F.col("dup_para_frac"), 6).alias("dup_para_frac"),
        qfloor(F.col("dup_para_char_frac"), 6).alias("dup_para_char_frac"),
        qfloor(F.col("top_ngram_char_frac"), 6).alias("top_ngram_char_frac"),
    )


# ---------------------------------------------------------------------------
# Per-language embedding centroids (metadata join + deterministic mean)
# ---------------------------------------------------------------------------

#: 2^20 — float components quantize to exact longs, so the per-group sum
#: is integer (order-independent, bit-identical across engines); only the
#: final mean divides.
_CENT_SCALE = 1_048_576.0

_CENT_SQL = f"""
WITH j AS (
  SELECT d.lang, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), ex AS (
  SELECT lang, unnest(range(len(v))) AS pos,
         unnest(list_transform(
           v, x -> CAST(floor(x * {_CENT_SCALE} + 0.5) AS BIGINT))) AS xq
  FROM j
)
SELECT lang, pos, count(*) AS n_vecs,
       {sql_qfloor(f'CAST(sum(xq) AS DOUBLE) / (count(*) * {_CENT_SCALE})', 9)}
         AS centroid
FROM ex GROUP BY lang, pos
"""


@register("lang_centroid_components", _CENT_SQL)
def lang_centroid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per document language, exploded to scalar (lang,
    pos, centroid) rows — the class-centroid primitive behind per-domain
    ANN routing and embedding-space drift monitoring.

    Determinism: a float sum's value depends on partition order, so the
    mean quantizes each component to an exact long (floor(x*2^20+0.5))
    first — integer sums commute, division happens once.  Scale: the
    docs<->embeddings equi-join shuffles both sides on the id (AQE picks
    the strategy); the (lang, pos) agg is map-side combinable with
    lang x dim cells of state."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    # plain load, not load_par (r16): this pipeline is pure codegen
    # (broadcast join + posexplode + partial agg) — no Python boundary,
    # so the load_par fan-out only buys 32 tiny tasks per stage on a
    # sub-MB scan.  Measured (alternating min-of-7, commit d0bfdf0;
    # OPTIMIZATION_r16.md "lang_centroid_components"): 0.672s -> 0.339s
    # at sf0.1; identical at sf1 where the multi-file scan already has
    # real partitions — which is also the cluster-scale story (the scan
    # splits past core count by itself).
    emb = load(spark, sf_dir, "embeddings")
    ex = (
        emb.join(docs, emb["vec_id"] == docs["doc_id"])
        .select(
            "lang",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "x"
            ),
        )
        .withColumn(
            "xq",
            F.floor(F.col("x") * F.lit(_CENT_SCALE) + F.lit(0.5)).cast("long"),
        )
    )
    agg = ex.groupBy("lang", "pos").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("xq").alias("_s")
    )
    return agg.select(
        "lang",
        F.col("pos").cast("long").alias("pos"),
        "n_vecs",
        qfloor(
            F.col("_s").cast("double")
            / (F.col("n_vecs") * F.lit(_CENT_SCALE)),
            9,
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# JSON property extraction stats (events.props)
# ---------------------------------------------------------------------------

#: the oracle extracts with a regexp instead of DuckDB's JSON extension
#: (identical values on this corpus; keeps the oracle extension-free) —
#: the ENGINE side uses the real JSON path op.
_JPROPS_SQL = f"""
WITH k AS (
  SELECT event_type,
         CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
  FROM events
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, max(k) AS max_k,
       {sql_qfloor('CAST(sum(k) AS DOUBLE) / count(*)', 6)} AS avg_k
FROM k GROUP BY event_type
"""


@register("json_props_stats", _JPROPS_SQL)
def json_props_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a JSON string column (``get_json_object`` —
    the N4 eval-hazard-free parse) + per-event-type stats.  Integer
    sums; the one division is qfloor'd.  Map-side-combinable hash agg —
    event_type cardinality is tiny, no skew surface."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    agg = (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )
    return agg.withColumn(
        "avg_k",
        qfloor(
            F.col("sum_k").cast("double") / F.col("n_events").cast("double"), 6
        ),
    )


# ---------------------------------------------------------------------------
# Zipf head: top tokens with rank + cumulative corpus share
# ---------------------------------------------------------------------------

_ZIPF_SQL = f"""
WITH c AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counts AS (
  SELECT token, count(*) AS n_occur FROM c GROUP BY token
), total AS (
  SELECT CAST(sum(n_occur) AS BIGINT) AS tot FROM counts
), top AS (
  SELECT token, n_occur FROM counts ORDER BY n_occur DESC, token LIMIT 100
)
SELECT token, n_occur,
       row_number() OVER (ORDER BY n_occur DESC, token) AS rank,
       {sql_qfloor('CAST(sum(n_occur) OVER (ORDER BY n_occur DESC, token '
                   'ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot', 6)}
         AS cum_share
FROM top, total
"""


@register("zipf_top_tokens", _ZIPF_SQL)
def zipf_top_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-frequency head with Zipf rank and cumulative corpus share —
    the vocabulary-coverage curve (how much of the corpus the top-k
    tokens explain).  The global count agg is map-side combinable; the
    rank/cum-share window runs AFTER the top-100 limit (TakeOrdered), so
    the single-partition window sees 100 rows, never the vocabulary."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occur"))
    )
    total = counts.agg(F.sum("n_occur").alias("_tot"))
    top = counts.orderBy(F.desc("n_occur"), "token").limit(100)
    w_rank = Window.orderBy(F.desc("n_occur"), "token")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .withColumn(
            "cum_share",
            qfloor(
                F.sum("n_occur").over(w_cum).cast("double") / F.col("_tot"), 6
            ),
        )
        .drop("_tot")
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (asymmetric distance, Jegou et al. 2011)
# ---------------------------------------------------------------------------

# A CASE-guarded cosine denominator, mirroring ivf_probe_cells' zero-norm
# guard (a zero denominator becomes 1.0).
def _sql_guarded_cos(a: str, b: str) -> str:
    d = (
        f"sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b}))"
    )
    return (
        f"list_dot_product({a}, {b}) / "
        f"(CASE WHEN {d} = 0 THEN 1.0 ELSE {d} END)"
    )



_PQ_M = 8       # subspaces
_PQ_K = 16      # codes per subspace
_PQ_DSUB = 8    # dims per subspace (dim 64)

#: per-subspace helpers for the oracle (1-based inclusive slices)
def _pq_slice(col: str, j: int) -> str:
    return f"{col}[{j * _PQ_DSUB + 1}:{(j + 1) * _PQ_DSUB}]"


_PQ_CODE_COLS = ", ".join(
    f"max(CASE WHEN j = {j} THEN k END) AS c{j}" for j in range(_PQ_M)
)
_PQ_TAB_COLS = ", ".join(
    f"list_dot_product({_pq_slice('q.v', j)}, {_pq_slice('s.v', j)}) AS d{j}"
    for j in range(_PQ_M)
)
_PQ_TAB_JOINS = "\n  ".join(
    f"JOIN tab t{j} ON t{j}.query_id = t0.query_id AND t{j}.k = c.c{j}"
    for j in range(1, _PQ_M)
)
_PQ_SCORE = " + ".join(f"t{j}.d{j}" for j in range(_PQ_M))

#: the oracle replays the WHOLE PQ pipeline: seed codebooks (16 lowest
#: vec_ids sliced into 8 subspaces — the stand-in for per-subspace
#: k-means, which no SQL engine can replay), argmin-L2 encoding with
#: d2 = (aa - 2*ac) + cc and tie -> smallest code, then ADC scoring as
#: the explicit left-to-right d0 + d1 + ... + d7 chain — every dot a
#: sequential fold, so scores match the engine bit-for-bit.
_PQ_SQL = f"""
WITH s AS (
  SELECT vec_id AS k, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {_PQ_K}
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v FROM v WHERE vec_id < 5
), sl AS (
  SELECT v.vec_id, j.j, s.k,
         v.v[j.j * {_PQ_DSUB} + 1:(j.j + 1) * {_PQ_DSUB}] AS a,
         s.v[j.j * {_PQ_DSUB} + 1:(j.j + 1) * {_PQ_DSUB}] AS c
  FROM v, range({_PQ_M}) j(j), s
), d2 AS (
  SELECT vec_id, j, k,
         (list_dot_product(a, a) - 2 * list_dot_product(a, c))
           + list_dot_product(c, c) AS d2
  FROM sl
), codes AS (
  SELECT vec_id, j, k FROM (
    SELECT vec_id, j, k,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, k) AS rk
    FROM d2) t
  WHERE rk = 1
), cw AS (
  SELECT vec_id, {_PQ_CODE_COLS} FROM codes GROUP BY vec_id
), tab AS (
  SELECT q.query_id, s.k, {_PQ_TAB_COLS} FROM q, s
)
SELECT query_id, vec_id, pq_score FROM (
  SELECT t0.query_id, c.vec_id, {sql_qfloor('(' + _PQ_SCORE + ')', 6)} AS pq_score,
         row_number() OVER (PARTITION BY t0.query_id
                            ORDER BY ({_PQ_SCORE}) DESC, c.vec_id) AS rnk
  FROM cw c
  JOIN tab t0 ON t0.k = c.c0
  {_PQ_TAB_JOINS}
  WHERE c.vec_id <> t0.query_id) z
WHERE rnk <= 10
"""


@register("pq_adc_topk", _PQ_SQL)
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 for 5 probes: the third ANN family
    beside hyperplane-LSH and IVF — corpus compressed to m=8 one-byte
    codes per vector (the billion-scale in-RAM serving layout), queries
    exact, scores summed from per-subspace code-centroid dots.

    Runs the production pq_encode/pq_adc_topk machinery with seed
    codebooks (16 lowest vec_ids) in place of per-subspace k-means, for
    the same reason as ivf_cosine_topk's Voronoi seeds: the train step
    is the one non-SQL-replayable piece."""
    emb = load_par(spark, sf_dir, "embeddings")
    lite = load(spark, sf_dir, "embeddings")
    cb = sim.pq_codebooks_from_seeds(lite, m=_PQ_M, n_codes=_PQ_K)
    queries = lite.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.pq_adc_topk(emb, queries, cb, k=10)
    return out.select(
        "query_id", "vec_id", qfloor(F.col("pq_score"), 6).alias("pq_score")
    )


# ---------------------------------------------------------------------------
# IVF-PQ ANN (composed: cell pruning + ADC scoring)
# ---------------------------------------------------------------------------

_IVFPQ_TAB_JOINS = "\n  ".join(
    f"JOIN tab t{j} ON t{j}.query_id = p.query_id AND t{j}.k = c.c{j}"
    for j in range(_PQ_M)
)

#: the oracle composes the two already-verified halves: ivf_cosine_topk's
#: cent/assign/probe CTEs prune candidates to the probed cells, then
#: pq_adc_topk's codes/tab CTEs score them with the explicit d0+...+d7
#: chain — identical arithmetic, so the composition matches bit-for-bit.
_IVFPQ_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 16
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_sql_guarded_cos('v.v', 'c.cv')} DESC, c.cell) AS rk
    FROM v, cent c) t
  WHERE rk = 1
), q AS (
  SELECT vec_id AS query_id, v FROM v WHERE vec_id < 5
), probe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_sql_guarded_cos('q.v', 'c.cv')} DESC, c.cell) AS rk
    FROM q, cent c) t
  WHERE rk <= 4
), s AS (
  SELECT vec_id AS k, v FROM v WHERE vec_id < {_PQ_K}
), sl AS (
  SELECT v.vec_id, j.j, s.k,
         v.v[j.j * {_PQ_DSUB} + 1:(j.j + 1) * {_PQ_DSUB}] AS a,
         s.v[j.j * {_PQ_DSUB} + 1:(j.j + 1) * {_PQ_DSUB}] AS c
  FROM v, range({_PQ_M}) j(j), s
), d2 AS (
  SELECT vec_id, j, k,
         (list_dot_product(a, a) - 2 * list_dot_product(a, c))
           + list_dot_product(c, c) AS d2
  FROM sl
), codes AS (
  SELECT vec_id, j, k FROM (
    SELECT vec_id, j, k,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, k) AS rk
    FROM d2) t
  WHERE rk = 1
), cw AS (
  SELECT vec_id, {_PQ_CODE_COLS} FROM codes GROUP BY vec_id
), tab AS (
  SELECT q.query_id, s.k, {_PQ_TAB_COLS} FROM q, s
)
SELECT query_id, vec_id, pq_score FROM (
  SELECT p.query_id, c.vec_id, {sql_qfloor('(' + _PQ_SCORE + ')', 6)} AS pq_score,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY ({_PQ_SCORE}) DESC, c.vec_id) AS rnk
  FROM probe p
  JOIN assign a ON a.cell = p.cell
  JOIN cw c ON c.vec_id = a.vec_id
  {_IVFPQ_TAB_JOINS}
  WHERE c.vec_id <> p.query_id) z
WHERE rnk <= 10
"""


@register("ivfpq_adc_topk", _IVFPQ_SQL)
def ivfpq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for 5 probes: the composed billion-scale serving
    stack — IVF cell pruning (touch ~nprobe/n_cells of the corpus) over
    PQ codes (m bytes per candidate) with asymmetric-distance scoring.
    Same seed centroids/codebooks as the parent queries; assignment and
    encoding both row-local, probe table broadcast, one top-k window."""
    import numpy as np

    emb = load_par(spark, sf_dir, "embeddings")
    lite = load(spark, sf_dir, "embeddings")
    seed_rows = sorted(
        lite.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    centroids = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in seed_rows]
    )
    cb = centroids.reshape(_PQ_K, _PQ_M, _PQ_DSUB).transpose(1, 0, 2)
    queries = lite.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivfpq_adc_topk(
        emb, queries, centroids, None, cb, k=10, nprobe=4
    )
    return out.select(
        "query_id", "vec_id", qfloor(F.col("pq_score"), 6).alias("pq_score")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (local document fingerprinting)
# ---------------------------------------------------------------------------

_WINNOW_K = 8  # char k-gram width
_WINNOW_W = 4  # winnow window (guarantee length = w + k - 1 = 11 chars)

#: the k-gram Rabin-Karp polynomial, inlined term by term (8 ord() calls
#: per position; every intermediate < 2^42, exact BIGINT both engines)
_WINNOW_POLY = " + ".join(
    f"CAST(ord(substr(text, CAST(i + {j} AS INT), 1)) AS BIGINT) * {p}"
    for j, p in enumerate(tx.winnow_pows(_WINNOW_K))
)

_WINNOW_SQL = f"""
WITH g AS (
  SELECT doc_id, text, length(text) - {_WINNOW_K - 1} AS nk FROM documents
  WHERE length(text) >= {_WINNOW_K}
), h AS (
  SELECT doc_id, nk,
         list_transform(range(1, nk + 1),
           i -> ({_WINNOW_POLY}) % {tx.WINNOW_MOD}) AS hs
  FROM g
), fps AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(nk - {_WINNOW_W - 1}, 1) + 1),
           j -> list_min(hs[CAST(j AS INT):CAST(j + {_WINNOW_W - 1} AS INT)])
         ))) AS fp
  FROM h
)
SELECT fp, count(*) AS n_docs
FROM fps GROUP BY fp HAVING count(*) >= 2
"""


@register("winnow_shared_fingerprints", _WINNOW_SQL)
def winnow_shared_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al. 2003) fingerprints shared by >= 2
    documents — the plagiarism/citation-overlap index primitive: any two
    docs sharing a substring of w+k-1 = 11 chars are GUARANTEED to share
    a row here (the locality property plain MinHash lacks).

    Fingerprint selection is row-local (vectorized Rabin-Karp in an
    Arrow UDF — see winnow_fingerprints_udf for the 25x-vs-codegen
    measurement), zero shuffle; the index is one map-side-combinable
    count agg over the exploded fingerprint sets."""
    # plain load, not load_par: the UDF is vectorized numpy, so Arrow
    # transfer dominates at small SF — one big batch beats 32 tiny ones
    # (the shingle-UDF lesson); at scale the scan has real partitions
    docs = load(spark, sf_dir, "documents").filter(
        F.length("text") >= _WINNOW_K
    )
    fps = docs.select(
        F.explode(
            tx.winnow_fingerprints_udf(_WINNOW_K, _WINNOW_W)(F.col("text"))
        ).alias("fp")
    )
    return (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# IVF ANN top-k (inverted-file coarse quantizer)
# ---------------------------------------------------------------------------

#: The oracle mirrors the ENTIRE IVF pipeline: 16 seed centroids (the 16
#: lowest vec_ids — a deterministic Voronoi coarse quantizer, the one part
#: swapped out from the MLlib-KMeans build, which no SQL engine could
#: replay), nearest-centroid assignment (rank over 16 cosines, tie-break
#: cell), per-query top-4 probe cells, then the exact cosine re-rank over
#: candidates in probed cells only.  Every fold is the same sequential
#: multiply-add proven bit-identical by the cosine_topk oracle, so the
#: oracle matches bit-for-bit.
_IVF_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < 16
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_sql_guarded_cos('v.vv', 'c.cv')} DESC, c.cell) AS rk
    FROM v, cent c) t
  WHERE rk = 1
), q AS (
  SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 5
), probe AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_sql_guarded_cos('q.qv', 'c.cv')} DESC, c.cell) AS rk
    FROM q, cent c) t
  WHERE rk <= 4
), scored AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(q.qv, v.vv) /
           (sqrt(list_dot_product(q.qv, q.qv)) *
            sqrt(list_dot_product(v.vv, v.vv))) AS raw
  FROM probe p
  JOIN assign a ON a.cell = p.cell
  JOIN v ON v.vec_id = a.vec_id
  JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cos FROM (
  SELECT query_id, vec_id, {sql_qfloor('raw', 6)} AS cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw DESC, vec_id) AS rnk
  FROM scored) t
WHERE rnk <= 10
"""


@register("ivf_cosine_topk", _IVF_SQL)
def ivf_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for 5 probes: assignment join -> per-query probe
    cells -> exact cosine over ~nprobe/n_cells of the corpus.

    Runs the production :func:`operators.similarity.ivf_cosine_topk`
    machinery (broadcast-centroid probe selection, cell-pruned candidate
    join, windowed re-rank) with ONE substitution: centroids are the 16
    lowest vec_ids instead of the MLlib-KMeans fit, because kmeans|| is
    not replayable in any SQL oracle while a fixed Voronoi seed set is.
    The 16-row centroid collect is documented eager metadata, like the
    KMeans build's own clusterCenters() pull."""
    import numpy as np

    emb = load_par(spark, sf_dir, "embeddings")
    # seeds/queries from the UN-repartitioned scan: filtering the
    # load_par frame would shuffle the whole corpus to keep 16 rows
    lite = load(spark, sf_dir, "embeddings")
    seed_rows = sorted(
        lite.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    centroids = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in seed_rows]
    )
    # carry the (double-cast — float->double is exact) vector through
    # assignment: ivf_cosine_topk then skips the corpus x corpus id join
    # back to emb (r15, guide §2.4 — see its docstring)
    assigned = sim.ivf_assign_cells(emb, centroids, carry_vec_as="embedding")
    queries = lite.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivf_cosine_topk(
        emb, queries, centroids, assigned, k=10, nprobe=4
    )
    return out.select(
        "query_id", "vec_id", qfloor(F.col("cos"), 6).alias("cos")
    )


# ---------------------------------------------------------------------------
# Bigram vocabulary head
# ---------------------------------------------------------------------------

_BIGRAM_SQL = """
WITH bg AS (
  SELECT unnest(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 1, 0) + 1),
           i -> array_to_string((string_split(text,' '))[i:i+1], ' '))) AS bigram
  FROM documents
)
SELECT bigram, count(*) AS n_occur
FROM bg GROUP BY 1
ORDER BY n_occur DESC, bigram
LIMIT 100
"""


@register("bigram_vocab_top100", _BIGRAM_SQL)
def bigram_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 word bigrams by occurrence (the n-gram LM / collocation
    counting primitive; tie-break on the bigram).  One map-combinable
    hash agg over the exploded bigrams — same shape as token_vocab, no
    hot-key risk at the 100-row head."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2)),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occur"))
        .orderBy(F.desc("n_occur"), "bigram")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# deterministic sketches: HyperLogLog + count-min (r5)
# ---------------------------------------------------------------------------

_HLL_SQL = """
WITH sh AS (
  SELECT source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS sh
  FROM documents
), hashed AS (
  SELECT source,
         CAST(concat('0x', substr(md5(sh), 1, 12)) AS BIGINT) AS h
  FROM sh
), ranked AS (
  SELECT source, h % 256 AS bucket,
         CASE WHEN (h >> 8) = 0 THEN 41
              ELSE 41 - length(bin(h >> 8)) END AS r
  FROM hashed
), regs AS (
  SELECT source, bucket, max(r) AS register FROM ranked GROUP BY 1, 2
), agg AS (
  SELECT source, count(*) AS n_present,
         CAST(sum((CAST(1 AS BIGINT) << (41 - register))) AS BIGINT) AS s2p
  FROM regs GROUP BY 1
), est AS (
  SELECT source,
         s2p + (256 - n_present) * (CAST(1 AS BIGINT) << 41) AS s2,
         256 - n_present AS zeros
  FROM agg
), exact AS (
  SELECT source, count(DISTINCT sh) AS n_exact FROM sh GROUP BY 1
)
SELECT x.source, x.n_exact,
       CAST(floor((CASE WHEN (1.0351398986589102e17 / CAST(s2 AS DOUBLE))
                             <= 640.0 AND zeros > 0
                        THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
                        ELSE 1.0351398986589102e17 / CAST(s2 AS DOUBLE)
                   END) * 10000) AS BIGINT) AS estimate_e4
FROM est e JOIN exact x USING (source)
"""


@register("hll_distinct_shingles", _HLL_SQL)
def hll_distinct_shingles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct 3-gram shingle count: exact vs the
    deterministic 256-register HyperLogLog (operators.sketches) — the
    sketch a 100 TB profiler runs instead of count(DISTINCT), 256 rows of
    mergeable state per source.  Every register and the estimate itself
    reproduce bit-for-bit in the oracle (portable md5 hash, integer
    indicator sum, fixed-shape double ops)."""
    from ..operators import sketches as sk

    docs = load(spark, sf_dir, "documents")
    sh = tx.exploded_shingles(docs, 3, "text", "source")
    # ONE corpus traversal, ONE linear chain (r15, guide §2.4): the old
    # shape exploded and md5-hashed the corpus twice (countDistinct
    # branch + register branch; Catalyst clones the subtree per consumer
    # and ReuseExchange does not dedup the diverged clones — r15 plan
    # audit).  hll_distinct_with_exact derives BOTH outputs from one
    # distinct -> (group,bucket) -> (group) chain; registers are a
    # per-bucket max (dedup-invariant), the exact count is the sum of
    # per-bucket distinct counts — bit-identical either way
    # (plans/r15/hll_distinct_shingles_after.txt: 2 scans -> 1).
    return sk.hll_distinct_with_exact(sh, "sh", "source").select(
        "source", "n_exact", "estimate_e4"
    )


_CMS_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text,' ')) AS tok FROM documents
), ds AS (
  SELECT unnest([0, 1, 2, 3]) AS d
), based AS (
  -- ONE md5 per occurrence; row cells via the shared universal-hash
  -- constants (dedup._PERM_A/B, overflow-safe BIGINT on both engines)
  SELECT CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS h
  FROM toks
), counters AS (
  SELECT d,
         ((([9973, 12007, 14033, 16061])[d + 1] * h
           + ([1, 7, 13, 19])[d + 1]) % 4294967291) % 512 AS w,
         count(*) AS counter
  FROM based, ds GROUP BY 1, 2
), truec AS (
  SELECT tok, count(*) AS n_true FROM toks GROUP BY 1
), probe AS (
  SELECT t.tok, ds.d,
         ((([9973, 12007, 14033, 16061])[ds.d + 1]
           * CAST(concat('0x', substr(md5(t.tok), 1, 12)) AS BIGINT)
           + ([1, 7, 13, 19])[ds.d + 1]) % 4294967291) % 512 AS w
  FROM (SELECT DISTINCT tok FROM toks) t, ds
), est AS (
  SELECT p.tok, min(coalesce(c.counter, 0)) AS cms_count
  FROM probe p LEFT JOIN counters c ON p.d = c.d AND p.w = c.w
  GROUP BY 1
)
SELECT t.tok, t.n_true, e.cms_count
FROM truec t JOIN est e USING (tok)
"""


@register("cms_token_counts", _CMS_SQL)
def cms_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequencies: true counts vs the 4x512 count-min sketch
    (operators.sketches) probed for every distinct token — the
    heavy-hitter profiler whose state is 2048 counters regardless of
    corpus size.  cms_count >= n_true always (CMS overestimates);
    equality wherever no hash collisions landed.  Bit-exact integer
    pipeline, fully oracle-mirrored."""
    from ..operators import sketches as sk

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("tok"))
    # ONE corpus traversal (r15, guide §2.4): the old shape ran the
    # explode three times (counters / probe-distinct / true counts).
    # Collapse to per-token counts first, then build the sketch FROM the
    # vocab-sized count table (cms_counters weight_col): each (d, w)
    # counter is the sum of n_true over tokens hashing there — exactly
    # the per-occurrence sum, bit-identical; md5 now runs once per
    # DISTINCT token instead of per occurrence.  The three consumers of
    # `tc` share the corpus exchange via ReuseExchange (plan-pinned in
    # plans/r15/cms_token_counts_after.txt).
    # the count table is vocab-sized (Heaps-law sublinear in the corpus)
    # but has THREE consumers (counters / probes / output join), and
    # Catalyst clones the corpus subtree per consumer — persist it so
    # the corpus explode+aggregate runs once.  DISK_ONLY per the house
    # persist policy (BASELINE.md r9 addendum 2).
    from pyspark import StorageLevel

    from .._persist import note_persist as _np_

    tc = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n_true"))
        .persist(StorageLevel.DISK_ONLY)
        .transform(_np_)
    )
    counters = sk.cms_counters(tc, "tok", weight_col="n_true")
    est = sk.cms_estimate(counters, tc.select("tok"), "tok")
    return tc.join(est, "tok").select("tok", "n_true", "cms_count")


# ---------------------------------------------------------------------------
# bigram-LM perplexity scoring (r5) — the CCNet quality filter
# ---------------------------------------------------------------------------

# scan-size crossover above which bigram_lm persists its LM table.
# RE-CALIBRATED r9 by A/B at three stats points (min-of-2, count drain,
# local[32]; "stats" = optimizedPlan sizeInBytes of the (doc_id, text)
# parquet scan):
#     0.25 MB (sf0.1):  recompute 2.0s  vs persisted 2.25s  -> recompute
#     2.7  MB (sf1):    recompute 5.2s  vs persisted 4.62s  -> persisted
#     26   MB (sf10):   recompute 39.8s vs persisted 31.2s  -> persisted
# The r6 value (2 GiB) extrapolated the sf0.1 loss to all local scales;
# the measured inversion sits near ~1 MB of scan stats, and above it the
# persisted path's margin GROWS with the corpus (the saved full-text
# traversals scale, the materialization barrier doesn't).
_BIGRAM_PERSIST_BYTES = 1 << 20


def _bigram_big(docs) -> bool:
    """Whether the size-adaptive bigram-LM queries take the persisted
    two-traversal path: the scan-size estimate is above
    ``_BIGRAM_PERSIST_BYTES``, the measured ~1 MB crossover.  Plan
    audits and shape pins take the big path on SMALL fixtures by setting
    that constant to -1 in-process (r8 verdict #2: every sf0.001 audit
    otherwise captures only the recompute path)."""
    est_bytes = int(
        str(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    return est_bytes > _BIGRAM_PERSIST_BYTES

_LM_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(toks) AS tok FROM t)
), lp AS (
  SELECT w1, w2,
         CAST(floor(ln((c12 + 1) / CAST(c1.c1 + v.v AS DOUBLE)) * 1e4)
              AS BIGINT) AS lp4
  FROM c12 JOIN c1 USING (w1), v
)
SELECT bg.doc_id,
       count(*) AS n_bigrams,
       floor((-CAST(sum(lp.lp4) AS DOUBLE) / (count(*) * 1e4)) * 1e4) / 1e4
         AS xent
FROM bg JOIN lp USING (w1, w2)
GROUP BY bg.doc_id
"""


@register("bigram_lm_perplexity", _LM_SQL)
def bigram_lm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM quality scoring (Wenzek et al. 2020): train
    the add-one bigram LM on the corpus (two hash aggs — bigram counts,
    prefix counts derived from them — plus one vocab distinct-count) and
    score every document's cross-entropy with a bigram-keyed join.  Each
    bigram's log-prob is floored onto a 1e-4 grid at the source so the
    per-doc integer sums are order-independent and engine-portable
    (operators/lm.py).

    Shape is SIZE-ADAPTIVE (both paths bit-identical in results).  Above
    the measured scan-size crossover (_BIGRAM_PERSIST_BYTES, r9
    re-calibration table): unigram SENTINEL rows make the
    vocabulary exactly derivable from the bigram table (no corpus-wide
    distinct-token scan) and the persisted corpus-LEVEL bigram table —
    the LM itself — serves lp/c1/vocab from one materialization, capping
    the pipeline at TWO corpus traversals (operator-level pin in
    test_plan_shapes); at 100 TB the saved full-text scans dominate
    everything else.  Below the crossover: plain recompute — five
    thin traversals whose stages the scheduler overlaps across idle
    cores.  The r6 sf0.1 A/B measured every traversal-reducing variant
    slower locally — under the original count-drain, recompute 1.45s vs
    2.0-2.3s for the persisted variants; re-measured under the honest
    noop drain the gap narrows to ~0.1-0.3s (recompute 2.2s vs
    sentinel+persist 2.3-2.5s), still favoring recompute below the
    crossover: a materialization barrier buys nothing while the corpus
    re-scan is cheaper than the cache round-trip."""
    from ..operators.lm import bigram_lm, doc_bigram_counts, doc_cross_entropy

    docs = load_par(spark, sf_dir, "documents").select("doc_id", "text")
    big = _bigram_big(docs)
    bg = doc_bigram_counts(docs, unigram_sentinels=big)
    lp, vocab = bigram_lm(
        docs, doc_counts=bg, counts_have_sentinels=big, persist=big
    )
    out = doc_cross_entropy(docs, lp, vocab, doc_counts=bg)
    return out.select(
        "doc_id", "n_bigrams", qfloor(F.col("xent"), 4).alias("xent")
    )


# ---------------------------------------------------------------------------
# KMV sketch: corpus-vs-corpus overlap estimation (r5)
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_H = "CAST(concat('0x', substr(md5(sh), 1, 12)) AS BIGINT)"
_KMV_SH = (
    "unnest(list_distinct(list_transform("
    "range(1, greatest(len(string_split(text,' ')) - 4, 0) + 1), "
    "i -> array_to_string((string_split(text,' '))[i:i+4], ' '))))"
)

_KMV_SQL = f"""
WITH sh AS (
  SELECT DISTINCT source, {_KMV_H} AS h
  FROM (SELECT source, {_KMV_SH} AS sh FROM documents
        WHERE source IN ('src0', 'src1'))
), ka AS (
  SELECT h FROM sh WHERE source = 'src0' ORDER BY h LIMIT {_KMV_K}
), kb AS (
  SELECT h FROM sh WHERE source = 'src1' ORDER BY h LIMIT {_KMV_K}
), ea AS (
  SELECT count(*) AS n, max(h) AS hk FROM ka
), eb AS (
  SELECT count(*) AS n, max(h) AS hk FROM kb
), u AS (
  SELECT h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM (SELECT h, 1 AS in_a, 0 AS in_b FROM ka
        UNION ALL
        SELECT h, 0 AS in_a, 1 AS in_b FROM kb)
  GROUP BY h ORDER BY h LIMIT {_KMV_K}
), j AS (
  SELECT count(*) AS k_union,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         CAST(sum(in_a * in_b) AS DOUBLE) / count(*) AS jaccard_est
  FROM u
)
SELECT
  CASE WHEN ea.n < {_KMV_K} THEN CAST(ea.n AS DOUBLE)
       ELSE CAST(ea.n - 1 AS DOUBLE) * {float(1 << 48)} / CAST(ea.hk AS DOUBLE)
  END AS est_src0,
  CASE WHEN eb.n < {_KMV_K} THEN CAST(eb.n AS DOUBLE)
       ELSE CAST(eb.n - 1 AS DOUBLE) * {float(1 << 48)} / CAST(eb.hk AS DOUBLE)
  END AS est_src1,
  j.k_union, j.n_both, j.jaccard_est
FROM ea, eb, j
"""


@register("kmv_corpus_overlap", _KMV_SQL)
def kmv_corpus_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus overlap from two constant-size summaries: KMV
    (k-minimum-values / theta) sketches of the 5-gram shingle sets of
    src0 and src1, combined into distinct-count estimates per corpus and
    a Jaccard-overlap estimate — no join of the full shingle spaces
    (operators/sketches.py kmv_*).  The window compiles to Spark's
    WindowGroupLimit, so each map task pre-prunes to its local k before
    the shuffle; everything stays exact integers until three final
    divisions, and the oracle replays the identical md5 pipeline."""
    from ..operators.sketches import kmv_estimate, kmv_jaccard, kmv_sketch
    from ..operators.text import exploded_shingles

    docs = load_par(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    sh = exploded_shingles(docs, n=5, text_col="text", id_col="source").select(
        "source", F.col("sh")
    )
    sk = kmv_sketch(sh, "sh", "source", k=_KMV_K)
    est = kmv_estimate(sk, "source", k=_KMV_K)
    ea = est.filter(F.col("source") == "src0").select(
        F.col("est_distinct").alias("est_src0")
    )
    eb = est.filter(F.col("source") == "src1").select(
        F.col("est_distinct").alias("est_src1")
    )
    j = kmv_jaccard(
        sk.filter(F.col("source") == "src0"),
        sk.filter(F.col("source") == "src1"),
        k=_KMV_K,
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(j))
        .select("est_src0", "est_src1", "k_union", "n_both", "jaccard_est")
    )


# ---------------------------------------------------------------------------
# incremental dedup: batch vs seen-corpus index (r5)
# ---------------------------------------------------------------------------

_INCR_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
           i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS sh
  FROM documents
), {_MINHASH_CTES_SQL}, hd AS (
  SELECT DISTINCT doc_id, h48 FROM h
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM hd GROUP BY 1
), seen AS (
  SELECT doc_id, text FROM documents WHERE source <> 'src2'
), batch AS (
  SELECT doc_id, text FROM documents WHERE source = 'src2'
), seen_h AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT) AS h
  FROM seen
), bflag AS (
  SELECT b.doc_id,
         (sh.h IS NOT NULL) AS is_exact_dup
  FROM batch b
  LEFT JOIN seen_h sh
    ON CAST(concat('0x', substr(md5(b.text), 1, 12)) AS BIGINT) = sh.h
), cand AS (
  SELECT DISTINCT n.doc_id AS nid, s.doc_id AS sid
  FROM banded n
  JOIN banded s ON n.band = s.band AND n.bucket = s.bucket
  WHERE n.doc_id IN (SELECT doc_id FROM bflag WHERE NOT is_exact_dup)
    AND s.doc_id IN (SELECT doc_id FROM seen)
), common AS (
  SELECT c.nid, c.sid, count(*) AS n_common
  FROM cand c
  JOIN hd x ON x.doc_id = c.nid
  JOIN hd y ON y.doc_id = c.sid AND y.h48 = x.h48
  GROUP BY 1, 2
), near AS (
  SELECT c.nid, min(c.sid) AS near_dup_of
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.nid
  JOIN sizes sb ON sb.doc_id = c.sid
  WHERE n_common * 1000000 >= 500000 * (sa.n_sh + sb.n_sh - n_common)
  GROUP BY 1
)
SELECT f.doc_id,
       CAST(f.is_exact_dup AS INTEGER) AS is_exact_dup,
       n.near_dup_of
FROM bflag f LEFT JOIN near n ON n.nid = f.doc_id
"""


@register("incremental_dedup_batch", _INCR_SQL)
def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl increment: documents from src2 probe the index built
    from every other source (operators/incremental.py) — exact dups via
    one hash anti-probe, near dups via band-bucket equi-join with
    row-local array_intersect verification.  Only batch-sized data
    shuffles; the index side persists bucketed on its join keys in
    production (write_bucketed)."""
    from ..operators.incremental import dedup_index_frames, incremental_dedup

    docs = load_par(spark, sf_dir, "documents")
    seen = docs.filter(F.col("source") != "src2").select("doc_id", "text")
    batch = docs.filter(F.col("source") == "src2").select("doc_id", "text")
    # share_digests: the three index frames are consumed directly in
    # this one job (nothing is written bucketed here), so the seen
    # corpus's shingle+md5 digest pipeline materializes once instead of
    # once per consumer (r15, guide §2.4 / §7.2)
    exact, bands_tbl, hashes = dedup_index_frames(seen, share_digests=True)
    out = incremental_dedup(batch, exact, bands_tbl, hashes, threshold=0.5)
    return out.select(
        "doc_id",
        F.col("is_exact_dup").cast("int").alias("is_exact_dup"),
        "near_dup_of",
    )


# ---------------------------------------------------------------------------
# exact duplicate-substring spans (r5, Lee et al. 2022 ExactSubstr)
# ---------------------------------------------------------------------------

_DUPSPAN_K = 20
_DUPSPAN_SQL = f"""
WITH g AS (
  SELECT doc_id, i AS p, substr(text, CAST(i AS INTEGER), {_DUPSPAN_K}) AS g
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {_DUPSPAN_K - 1}, 0) + 1)) AS i
        FROM documents)
), dup AS (
  SELECT g FROM g GROUP BY g HAVING count(*) >= 2
), dp AS (
  SELECT doc_id, p FROM g WHERE g IN (SELECT g FROM dup)
), isl AS (
  SELECT doc_id, p,
         CASE WHEN prev_max_end IS NULL OR p > prev_max_end THEN 1 ELSE 0 END
           AS new_isl
  FROM (SELECT doc_id, p,
               max(p + {_DUPSPAN_K}) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_end
        FROM dp)
), isl2 AS (
  SELECT doc_id, p,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl
  FROM isl
)
SELECT doc_id,
       CAST(min(p) - 1 AS BIGINT) AS span_start,
       CAST(max(p) + {_DUPSPAN_K - 1} AS BIGINT) AS span_end
FROM isl2 GROUP BY doc_id, isl
"""


@register("duplicate_spans_k20", _DUPSPAN_SQL)
def duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): maximal character spans whose
    every 20-char gram occurs 2+ times in the corpus — gram explode,
    map-side-combined frequency filter, semi-join back, per-doc
    gaps-and-islands merge (operators/dedup.py duplicate_spans).  Exact:
    grouped on the gram itself, not a hash."""
    docs = load_par(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.duplicate_spans(docs, k=_DUPSPAN_K)


# ---------------------------------------------------------------------------
# cross-corpus span decontamination (r7, Lee et al. 2022 §4.2)
# ---------------------------------------------------------------------------

_DECONTAM_SQL = f"""
WITH tr AS (
  SELECT doc_id, text FROM documents WHERE source <> 'src0'
), ev AS (
  SELECT text FROM documents WHERE source = 'src0'
), g AS (
  SELECT doc_id, i AS p, substr(text, CAST(i AS INTEGER), {_DUPSPAN_K}) AS g
  FROM (SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {_DUPSPAN_K - 1}, 0) + 1)) AS i
        FROM tr)
), eg AS (
  SELECT DISTINCT substr(text, CAST(i AS INTEGER), {_DUPSPAN_K}) AS g
  FROM (SELECT text,
               unnest(range(1, greatest(length(text) - {_DUPSPAN_K - 1}, 0) + 1)) AS i
        FROM ev)
), dp AS (
  SELECT doc_id, p FROM g WHERE g IN (SELECT g FROM eg)
), isl AS (
  SELECT doc_id, p,
         CASE WHEN prev_max_end IS NULL OR p > prev_max_end THEN 1 ELSE 0 END
           AS new_isl
  FROM (SELECT doc_id, p,
               max(p + {_DUPSPAN_K}) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_end
        FROM dp)
), isl2 AS (
  SELECT doc_id, p,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS isl
  FROM isl
)
SELECT doc_id,
       CAST(min(p) - 1 AS BIGINT) AS span_start,
       CAST(max(p) + {_DUPSPAN_K - 1} AS BIGINT) AS span_end
FROM isl2 GROUP BY doc_id, isl
"""


@register("decontam_spans_k20", _DECONTAM_SQL)
def decontam_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (Lee et al. 2022 §4.2): the
    exact character ranges of TRAIN documents (source != 'src0') that
    occur verbatim in the EVAL corpus (source = 'src0') — what
    contamination_check reports at doc granularity, located to the
    characters a training pipeline must cut before the next epoch.

    Scale shape (operators/dedup.py decontaminate_spans): train-side
    gram shuffle ships 64-bit hashes only; eval hash set is
    benchmark-sized; the string re-verify confines itself to the
    hash-intersection sliver, so a 2^-64 collision can never cut
    training text."""
    docs = load_par(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    ev = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    return dd.decontaminate_spans(train, ev, k=_DUPSPAN_K)


# ---------------------------------------------------------------------------
# Per-document unigram token entropy (quality signal)
# ---------------------------------------------------------------------------

_ENTROPY_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS c FROM toks
  WHERE tok <> '' GROUP BY 1, 2
), with_n AS (
  SELECT doc_id, c,
         sum(c) OVER (PARTITION BY doc_id) AS n
  FROM tf
), lp AS (
  SELECT doc_id, c, n,
         CAST(floor(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e4)
              AS BIGINT) AS lp4
  FROM with_n
)
SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
       CAST(-sum(c * lp4) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * 1e4)
         AS entropy
FROM lp GROUP BY 1
"""


@register("token_entropy", _ENTROPY_SQL)
def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram entropy per document in nats — low entropy = repetitive /
    template text (a standard corpus quality signal alongside the
    repetition stats and LM perplexity).  Per-token log-probs floor onto
    the 1e-4 grid at source (the operators/lm.py determinism trick) so
    per-doc sums are exact integers.  One (doc, tok) hash agg; the
    per-doc rollup rides the same doc-prefixed partitioning."""
    from pyspark.sql import Window

    docs = load_par(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    lp4 = F.floor(
        F.log(F.col("c").cast("double") / F.col("n").cast("double"))
        * F.lit(1e4)
    ).cast("long")
    scored = tf.withColumn("n", n).withColumn("lp4", lp4)
    return scored.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_tokens"),
        (
            (-F.sum(F.col("c") * F.col("lp4"))).cast("double")
            / (F.max("n").cast("double") * F.lit(1e4))
        ).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# Text normalization (C4/CCNet cleanup) — md5-verified cross-engine
# ---------------------------------------------------------------------------

from ..operators.text import sql_normalize_text as _sql_norm  # noqa: E402

_NORM_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_before,
       CAST(length({_sql_norm('text')}) AS BIGINT) AS n_after,
       md5({_sql_norm('text')}) AS norm_md5
FROM documents
"""


@register("normalize_text_md5", _NORM_SQL)
def normalize_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen text normalization verified byte-for-byte: the md5 of
    every normalized document must match DuckDB's (translate + global
    regexp_replace on the Java/RE2-common subset).  Row-local, zero
    shuffle."""
    from ..operators.text import normalize_text

    docs = load(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_before"),
        F.length(norm).cast("long").alias("n_after"),
        F.md5(norm).alias("norm_md5"),
    )


# ---------------------------------------------------------------------------
# Vector-column data quality (embeddings table)
# ---------------------------------------------------------------------------

_VDQ_SQL = """
WITH v AS (
  SELECT vec_id, embedding,
         len(embedding) AS dim,
         list_aggregate(list_transform(embedding,
             x -> CASE WHEN isnan(x) THEN 1 ELSE 0 END), 'sum') AS n_nan,
         list_aggregate(list_transform(embedding,
             x -> CASE WHEN isnan(x) THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e6)
                            AS BIGINT) END), 'sum') AS sq6
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT dim) AS BIGINT) AS n_distinct_dims,
       CAST(max(dim) AS BIGINT) AS max_dim,
       CAST(sum(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_nan,
       CAST(sum(CASE WHEN sq6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_vectors,
       floor(CAST(min(sq6) AS DOUBLE) / 1e2) / 1e4 AS min_sq_norm,
       floor(CAST(max(sq6) AS DOUBLE) / 1e2) / 1e4 AS max_sq_norm
FROM v
"""


@register("dq_embeddings", _VDQ_SQL)
def dq_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column data quality: dimension consistency, NaN presence,
    zero vectors, and squared-norm bounds over the embeddings table —
    the checks an ANN index build must run before trusting a feed.
    Per-element floats are floored onto a 1e-6 grid inside the fold so
    the corpus aggregates are exact integers (the engine determinism
    contract); one row-local pass + one 1-row aggregate."""
    docs = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    # NaN scores 0 EXPLICITLY on both engines (Spark's non-ANSI cast
    # silently folds NaN->0 while DuckDB raises — the divergence would
    # surface on exactly the feeds this gate exists to catch; n_with_nan
    # carries the detection)
    sq6 = F.aggregate(
        F.transform(
            e,
            lambda x: F.when(F.isnan(x), F.lit(0).cast("long")).otherwise(
                F.floor(
                    x.cast("double") * x.cast("double") * F.lit(1e6)
                ).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_nan = F.aggregate(
        F.transform(e, lambda x: F.when(F.isnan(x), 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    v = docs.select(
        F.size(e).alias("dim"),
        n_nan.alias("n_nan"),
        sq6.alias("sq6"),
    )
    return v.agg(
        F.count("*").alias("n_vectors"),
        F.count_distinct("dim").alias("n_distinct_dims"),
        F.max("dim").cast("long").alias("max_dim"),
        F.sum((F.col("n_nan") > 0).cast("long")).alias("n_with_nan"),
        F.sum((F.col("sq6") == 0).cast("long")).alias("n_zero_vectors"),
        (F.floor(F.min("sq6").cast("double") / F.lit(1e2)) / F.lit(1e4)).alias(
            "min_sq_norm"
        ),
        (F.floor(F.max("sq6").cast("double") / F.lit(1e2)) / F.lit(1e4)).alias(
            "max_sq_norm"
        ),
    )


# ---------------------------------------------------------------------------
# Feature-hashing document embeddings (hashing trick)
# ---------------------------------------------------------------------------

_HE_DIM = 16

_HE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t
  FROM documents WHERE doc_id % 25 = 0
), hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 12)) AS BIGINT) AS h
  FROM toks WHERE t <> ''
), acc AS (
  SELECT doc_id, CAST(h % {_HE_DIM} AS BIGINT) AS pos,
         CAST(sum(CASE WHEN (h // 256) % 2 = 1 THEN 1 ELSE -1 END)
              AS BIGINT) AS v
  FROM hashed GROUP BY 1, 2
), nrm AS (
  SELECT doc_id, sum(v*v) AS sq FROM acc GROUP BY 1
)
SELECT a.doc_id, a.pos,
       floor(CAST(a.v AS DOUBLE) / sqrt(CAST(n.sq AS DOUBLE)) * 1e4) / 1e4
         AS component
FROM acc a JOIN nrm n USING (doc_id)
WHERE n.sq > 0 AND a.v <> 0
"""


@register("hashed_embedding_components", _HE_SQL)
def hashed_embedding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embeddings for a deterministic doc subset, emitted
    as scalar (doc_id, pos, component) rows (driver-canonicalizer-safe).
    The operator (operators/text.py hashed_embedding) computes the full
    array row-local; this query posexplodes the nonzero components.  The
    oracle replays the identical md5 index/sign pipeline."""
    from ..operators.text import hashed_embedding_udf

    docs = load_par(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 25 == 0
    )
    # asNondeterministic (guide §4.4): InferFiltersFromGenerate injects
    # `size(e) > 0 AND isnotnull(e)` below the posexplode and pushes it
    # under this projection, evaluating the embedding UDF twice per doc
    # (ArrowEvalPython x2 in the pre-r15 plan).  The doc_id sample
    # filter already sits below by construction; values unchanged.
    emb = docs.select(
        "doc_id",
        hashed_embedding_udf(dim=_HE_DIM)
        .asNondeterministic()(F.col("text"))
        .alias("e"),
    )
    return (
        emb.select("doc_id", F.posexplode("e").alias("pos", "component"))
        .filter(F.col("component") != 0.0)
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "component")
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication via cluster-then-compare (r6)
# ---------------------------------------------------------------------------

_SEMDEDUP_SQL = f"""
WITH ncells AS (
  -- corpus-adaptive cell count, mirroring similarity.semantic_dedup
  -- (centroids=None): clamp(floor(sqrt(n)), 16, 4096); the fixture's
  -- vec_ids are dense from 0, so "the n_cells lowest ids" == vec_id <
  -- n_cells (the r6-judge-suggested parameterized bound)
  SELECT greatest(16, least(4096, CAST(floor(sqrt(count(*))) AS INTEGER)))
           AS nc
  FROM embeddings
), cent AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < (SELECT nc FROM ncells)
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
), assign AS (
  SELECT vec_id, cell, vv FROM (
    SELECT v.vec_id, c.cell, v.vv,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_sql_guarded_cos('v.vv', 'c.cv')} DESC, c.cell) AS rk
    FROM v, cent c) t
  WHERE rk = 1
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_sql_guarded_cos('a.vv', 'b.vv')} >= 0.45
)
SELECT CAST(a.cell AS BIGINT) AS cell,
       count(*) AS n_members,
       CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
GROUP BY 1
"""


@register("semantic_dedup_cells", _SEMDEDUP_SQL)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) per-cell rollup: assign every
    embedding to its nearest Voronoi cell, compare pairs ONLY within a
    cell, and drop any vector with a lower-id cell-mate at cosine >=
    0.45 (the corpus's near-dup regime — embedding_near_dup's verified
    threshold); the group's lowest id survives deterministically.

    Since r7 the registered query runs the CORPUS-ADAPTIVE cell count
    (centroids=None: n_cells = clamp(sqrt(n), 16, 4096), seeded by the
    n_cells lowest vec_ids — the n_cells-row collect is documented
    eager metadata, replayable in SQL where kmeans|| is not; the oracle
    derives the same bound from count(*)).  Scale shape: row-local
    assignment, ONE shuffle on cell, quadratic work confined to
    |corpus|/n_cells-sized cells with the max_cell cap guarding
    degenerate clusterings (operators/similarity.py semantic_dedup)."""
    emb = load_par(spark, sf_dir, "embeddings")
    out = sim.semantic_dedup(emb, None, threshold=0.45)
    return out.groupBy(F.col("cell").cast("long").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("dropped").cast("long")).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# DSIR data selection: importance resampling toward a target domain (r6)
# ---------------------------------------------------------------------------

_DSIR_B = 1024
_DSIR_HASH = "CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT)"
_DSIR_GRAMS = """
    unnest(list_concat(w,
      CASE WHEN len(w) >= 2
           THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           ELSE [] END))
"""

_DSIR_SQL = f"""
WITH rawd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents WHERE source <> 'src0'
), tgd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents WHERE source = 'src0'
), rawg AS (
  SELECT doc_id, {_DSIR_HASH} % {_DSIR_B} AS bucket, count(*) AS cnt
  FROM (SELECT doc_id, {_DSIR_GRAMS} AS g FROM rawd)
  GROUP BY 1, 2
), tgg AS (
  SELECT doc_id, {_DSIR_HASH} % {_DSIR_B} AS bucket, count(*) AS cnt
  FROM (SELECT doc_id, {_DSIR_GRAMS} AS g FROM tgd)
  GROUP BY 1, 2
), pm AS (
  SELECT bucket, sum(cnt) AS cp FROM rawg GROUP BY 1
), qm AS (
  SELECT bucket, sum(cnt) AS cq FROM tgg GROUP BY 1
), lr AS (
  SELECT g.bucket,
         CAST(floor(ln((coalesce(qm.cq, 0) + 1) /
                       ((SELECT sum(cnt) FROM tgg) + {_DSIR_B})) * 1e4)
              AS BIGINT)
         - CAST(floor(ln((coalesce(pm.cp, 0) + 1) /
                         ((SELECT sum(cnt) FROM rawg) + {_DSIR_B})) * 1e4)
                AS BIGINT) AS lr4
  FROM (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS bucket) g
  LEFT JOIN pm ON pm.bucket = g.bucket
  LEFT JOIN qm ON qm.bucket = g.bucket
), scored AS (
  SELECT r.doc_id, CAST(sum(r.cnt) AS BIGINT) AS n_grams,
         CAST(sum(r.cnt * lr.lr4) AS BIGINT) AS logw4
  FROM rawg r JOIN lr ON lr.bucket = r.bucket
  GROUP BY 1
)
SELECT doc_id, n_grams, CAST(logw4 AS DOUBLE) / 1e4 AS logw, rnk
FROM (
  SELECT doc_id, n_grams, logw4,
         CAST(row_number() OVER (ORDER BY logw4 DESC, doc_id)
              AS INTEGER) AS rnk
  FROM scored) t
WHERE rnk <= 50
"""


@register("dsir_select_top", _DSIR_SQL)
def dsir_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    bucket models for the target domain (source='src0') and the raw pool
    (everything else), per-document importance weight
    ``sum(cnt * (ln q_b - ln p_b))`` over the 1024-bucket table, top-50
    raw documents kept — the deterministic (top-k) variant of DSIR's
    Gumbel resampling.  Each ln floored to the 1e-4 grid at source so
    scores are integer-exact across engines (operators/dsir.py).

    Scale shape: features row-local, two one-pass bucket models, the
    B-row log-ratio table broadcasts into a per-doc sum — selection over
    100 TB is two scans and a broadcast join."""
    from pyspark.sql import Window

    from ..operators.dsir import (
        dsir_logratio,
        dsir_scores,
        hashed_bucket_totals,
        hashed_ngram_counts,
    )

    from pyspark import StorageLevel

    docs = load_par(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    raw = docs.filter(F.col("source") != "src0")
    # ONE raw-corpus pass (r15, guide §2.4): the p model is exactly the
    # per-doc counts re-aggregated by bucket (integer sums — bit-
    # identical to hashed_bucket_totals), and dsir_logratio's model()
    # already does that re-aggregation.  Persist the per-doc frame so
    # the raw gram explode + md5 runs once instead of twice (it is the
    # dominant cost — the raw pool is ~the whole corpus).  The frame is
    # (doc, bucket)-aggregated, far smaller than the gram stream;
    # DISK_ONLY per the house persist policy (BASELINE.md r9 addendum).
    raw_counts = (
        hashed_ngram_counts(raw, _DSIR_B)
        .persist(StorageLevel.DISK_ONLY)
        .transform(_note_persist)
    )
    lr = dsir_logratio(
        raw_counts,
        hashed_bucket_totals(
            docs.filter(F.col("source") == "src0"), _DSIR_B
        ),
        _DSIR_B,
    )
    sc = dsir_scores(raw_counts, lr)
    return (
        sc.withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("logw"), "doc_id"))
            .cast("int"),
        )
        .filter(F.col("rnk") <= 50)
        .select("doc_id", "n_grams", "logw", "rnk")
    )


# ---------------------------------------------------------------------------
# Composed RAG retrieval chain (r8): chunk -> feature-hash embed -> top-k
# ---------------------------------------------------------------------------

_RAG_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1) + 1, 8)) AS st
  FROM t
), chunks AS (
  SELECT doc_id, CAST((st - 1) // 8 AS INT) AS chunk_idx,
         array_to_string(toks[st:st+15], ' ') AS chunk_text
  FROM s
), ctoks AS (
  SELECT doc_id, chunk_idx, unnest(string_split(chunk_text, ' ')) AS t
  FROM chunks
), hashed AS (
  SELECT doc_id, chunk_idx,
         CAST(concat('0x', substr(md5(t), 1, 12)) AS BIGINT) AS h
  FROM ctoks WHERE t <> ''
), acc AS (
  SELECT doc_id, chunk_idx, CAST(h % {_HE_DIM} AS BIGINT) AS pos,
         CAST(sum(CASE WHEN (h // 256) % 2 = 1 THEN 1 ELSE -1 END)
              AS BIGINT) AS v
  FROM hashed GROUP BY 1, 2, 3
), nrm AS (
  SELECT doc_id, chunk_idx, sum(v*v) AS sq FROM acc GROUP BY 1, 2
), dims AS (SELECT unnest(range(0, {_HE_DIM})) AS pos),
vecs AS (
  SELECT n.doc_id, n.chunk_idx,
         list(coalesce(
           floor(CAST(a.v AS DOUBLE) / sqrt(CAST(n.sq AS DOUBLE)) * 1e4)
             / 1e4, 0.0) ORDER BY d.pos) AS vv
  FROM nrm n CROSS JOIN dims d
  LEFT JOIN acc a ON a.doc_id = n.doc_id AND a.chunk_idx = n.chunk_idx
                 AND a.pos = d.pos
  WHERE n.sq > 0
  GROUP BY 1, 2
), q AS (
  SELECT doc_id AS qdoc, vv AS qv FROM vecs
  WHERE doc_id < 3 AND chunk_idx = 0
), scored AS (
  SELECT q.qdoc, v.doc_id, v.chunk_idx,
         list_dot_product(q.qv, v.vv) /
           (sqrt(list_dot_product(q.qv, q.qv)) *
            sqrt(list_dot_product(v.vv, v.vv))) AS rawcos
  FROM q JOIN vecs v ON v.doc_id <> q.qdoc
)
SELECT qdoc, doc_id, chunk_idx, cos FROM (
  SELECT qdoc, doc_id, chunk_idx, {sql_qfloor('rawcos', 6)} AS cos,
         row_number() OVER (PARTITION BY qdoc
                            ORDER BY rawcos DESC, doc_id, chunk_idx) AS rnk
  FROM scored) x
WHERE rnk <= 10
"""


@register("rag_chunk_retrieval", _RAG_SQL)
def rag_chunk_retrieval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed retrieval chain a RAG indexer runs — context-window
    chunking -> model-free feature-hash embeddings -> exact cosine top-k
    with same-document exclusion — as ONE lazy plan over three §2.14
    operators (chunk_documents, hashed_embedding_udf, the cosine_topk
    scoring shape).  Returns each query chunk's 10 nearest chunks from
    OTHER documents.

    Everything upstream of the rank is row-local (chunking is a
    higher-order transform + explode; the embedding UDF is Arrow-batched
    with a per-batch token cache), the 3 query vectors broadcast, and
    the only shuffle is the per-query top-k window — the cosine_topk
    brute-force shape.  For corpus-scale QUERY sets the same chain feeds
    ``similarity.ann_join`` instead of the broadcast; this registered
    form pins the composition and its oracle (DuckDB replays chunking,
    md5 hashing, grid normalization, and the rank bit-for-bit)."""
    from ..operators import corpus as cp
    from ..operators.similarity import cosine
    from ..operators.text import hashed_embedding_udf

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = cp.chunk_documents(docs, chunk_tokens=16, stride=8)
    # asNondeterministic (guide §4.4): the all-zero gate below is a
    # filter ON the UDF output — Catalyst pushes it under the projection
    # and evaluates the embedding UDF TWICE per chunk (plan-pinned in
    # plans/r15/rag_chunk_retrieval_before.txt: ArrowEvalPython x2 per
    # side).  The gate cannot move pre-UDF (±1 hash contributions can
    # cancel to a zero vector even with tokens present), so the sanctioned
    # fix is marking the expensive UDF non-reorderable.  Values unchanged.
    he_nd = hashed_embedding_udf(dim=_HE_DIM).asNondeterministic()
    emb = chunks.select(
        "doc_id",
        "chunk_idx",
        he_nd(F.col("chunk_text")).alias("e"),
    ).filter(F.exists("e", lambda x: x != 0))
    # query side built from PRE-filtered chunks (not from `emb`) so the
    # doc/chunk predicates sit below the non-deterministic UDF by
    # construction instead of relying on pushdown it now blocks; the
    # row set is identical (the filters commute with the projection).
    q = (
        chunks.filter((F.col("doc_id") < 3) & (F.col("chunk_idx") == 0))
        .select(
            F.col("doc_id").alias("qdoc"),
            he_nd(F.col("chunk_text")).alias("qv"),
        )
        .filter(F.exists("qv", lambda x: x != 0))
    )
    scored = emb.join(
        F.broadcast(q), F.col("doc_id") != F.col("qdoc")
    ).withColumn("rawcos", cosine(F.col("qv"), F.col("e")))
    w = Window.partitionBy("qdoc").orderBy(
        F.desc("rawcos"), "doc_id", "chunk_idx"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "qdoc", "doc_id", "chunk_idx", qfloor(F.col("rawcos"), 6).alias("cos")
        )
    )


# ---------------------------------------------------------------------------
# Perplexity-percentile corpus pruning (r8): the CCNet keep-the-head rule
# ---------------------------------------------------------------------------

_PPL_PRUNE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(toks) AS tok FROM t)
), lp AS (
  SELECT w1, w2,
         CAST(floor(ln((c12 + 1) / CAST(c1.c1 + v.v AS DOUBLE)) * 1e4)
              AS BIGINT) AS lp4
  FROM c12 JOIN c1 USING (w1), v
), scored AS (
  SELECT bg.doc_id,
         floor((-CAST(sum(lp.lp4) AS DOUBLE) / (count(*) * 1e4)) * 1e4) / 1e4
           AS xent
  FROM bg JOIN lp USING (w1, w2)
  GROUP BY bg.doc_id
), ranked AS (
  SELECT d.source, sc.xent,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY sc.xent, sc.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.source) AS n
  FROM scored sc JOIN documents d USING (doc_id)
), thr AS (
  SELECT source, xent AS thr FROM ranked
  WHERE rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
)
SELECT r.source, CAST(max(r.n) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN r.xent <= t.thr THEN 1 END) AS BIGINT) AS n_kept,
       max(t.thr) AS thr
FROM ranked r JOIN thr t USING (source)
GROUP BY 1
"""


@register("perplexity_prune_counts", _PPL_PRUNE_SQL)
def perplexity_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet pruning DECISION (Wenzek et al. 2020 §4.3) composed on
    top of the bigram-LM scorer: per source, keep documents at or below
    the exact 90th-percentile cross-entropy (lower order statistic, rank
    floor((n-1)*0.9)+1 — replayable, unlike approxQuantile), report
    (n_docs, n_kept, thr).  Documents too short to score (under 2
    tokens) are outside the pruning universe by construction.

    Composition: REUSES the registered ``bigram_lm_perplexity`` plan —
    including its size-adaptive two-traversal persistence above the scan
    crossover — then one source join and a (source, xent) COUNT
    aggregate, on which everything else runs (r9, the count-based
    order-statistic rewrite of BASELINE.md r9 addendum 3): xent is
    grid-floored to 1e-4, so the counts table is bounded by grid x
    sources at ANY corpus size, the 90th-percentile threshold is the
    smallest xent whose cumulative count reaches floor((n-1)*0.9)+1
    (identical to the old rank-window row by the r-th-smallest-with-
    duplicates identity), and the (n_docs, n_kept) rollup folds the
    same counts.  The pre-r9 shape ranked EVERY doc row with
    row_number over ~|sources| partitions — a serialized per-source
    corpus sort — and above the crossover had to persist a per-doc
    sliver so its two consumers wouldn't re-run the scorer; now the
    persisted frame is the counts AGGREGATE (grid-bounded, memory
    levels safe per the r9 rule), both branches read it, and the big
    path stays at 3 unique corpus traversals (pinned) with the
    corpus-proportional cache GONE."""
    scored = bigram_lm_q(spark, sf_dir).select("doc_id", "xent")
    src = load_par(spark, sf_dir, "documents").select("doc_id", "source")
    counts = (
        scored.join(src, "doc_id")
        .groupBy("source", "xent")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("xent")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        counts.withColumn("_cum", F.sum("_c").over(w_cum))
        .withColumn("_n", F.sum("_c").over(Window.partitionBy("source")))
        # aggregate-sized (xent grid x sources): the threshold branch and
        # the final rollup both read it; caching it is what keeps the
        # scorer's corpus traversal at ONE for both consumers
        .persist()
        .transform(_note_persist)
    )
    rank = F.floor((F.col("_n") - 1) * 0.9) + 1
    thr = cum.filter(
        (F.col("_cum") >= rank) & (F.col("_cum") - F.col("_c") < rank)
    ).select("source", F.col("xent").alias("thr"))
    return (
        cum.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.max("_n").alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("xent") <= F.col("thr"), F.col("_c"))),
                F.lit(0).cast("long"),
            ).alias("n_kept"),
            F.max("thr").alias("thr"),
        )
    )
