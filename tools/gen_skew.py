"""Generate the Zipf-skewed bench fixture .localdata/sf1_skew from the
uniform sf1 fixture (run tools/gen_sf1.py first) — same row counts and
byte volume, but with the HOT KEYS a real crawl / event stream has and
the id-shifted decade fixtures are uniform-by-construction unable to
produce (r8 verdict #3).  NOT driver data, NOT an oracle input; used
only by ``tools/ab.py skew`` to measure the skew-safe paths against
their plain twins under genuine key skew.

- events: ~50% of rows (xxhash64 of event_id, deterministic) collapse
  onto ONE user_id (0), and the same rows onto ONE event_type ('click'
  ends up ~60% of the stream) — the hot-key shape for sessionize
  (per-user window) and rolling_zscore (per-event_type window).
- documents: ~50% of docs collapse onto ONE source ('src0'), and inside
  those docs ~30% of token positions are replaced by a single hot token
  — a vocabulary hotspot (tfidf document frequency, bigram-LM counts)
  that also mass-duplicates shingles across unrelated docs, loading the
  LSH posting lists the bucket caps exist for.
- embeddings + relational tables + dimensions: symlinked from sf1
  (unchanged by design — embedding-side skew is governed by the bucket
  caps already decade-measured; the relational spine has its own
  AQE-skew pin in test_plan_shapes).

Deterministic: selection by xxhash64 of stable ids, no wall clock.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402

LOCAL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata"
)
SRC = os.path.join(LOCAL, os.environ.get("SPARK_GRAFT_SKEW_SRC", "sf1"))
DST = os.path.join(
    LOCAL, os.environ.get("SPARK_GRAFT_SKEW_NAME", "sf1_skew")
)

#: fraction of token positions replaced by the hot token inside hot docs
HOT_TOKEN_PCT = 3  # of 10


def main() -> None:
    if not os.path.exists(SRC):
        raise SystemExit(f"{SRC} missing — run tools/gen_sf1.py first")
    spark = get_spark("gen_skew")
    os.makedirs(DST, exist_ok=True)

    # events: hot user + hot event_type on the same deterministic half
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    hot = F.pmod(F.xxhash64("event_id"), F.lit(2)) == 0
    (
        ev.withColumn(
            "user_id", F.when(hot, F.lit(0)).otherwise(F.col("user_id"))
        )
        .withColumn(
            "event_type",
            F.when(hot, F.lit("click")).otherwise(F.col("event_type")),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{DST}/events.parquet")
    )

    # documents: hot source + in-doc hot-token substitution
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    hotdoc = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
    toks = F.split(F.col("text"), " ")
    new_text = F.array_join(
        F.transform(
            toks,
            lambda t, i: F.when(
                hotdoc
                & (t != "")
                & (
                    F.pmod(F.xxhash64(F.col("doc_id"), i), F.lit(10))
                    < F.lit(HOT_TOKEN_PCT)
                ),
                F.lit("hotword"),
            ).otherwise(t),
        ),
        " ",
    )
    (
        docs.select(
            "doc_id",
            new_text.alias("text"),
            "lang",
            F.when(hotdoc, F.lit("src0"))
            .otherwise(F.col("source"))
            .alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{DST}/documents.parquet")
    )

    # everything else: symlink from the uniform fixture
    for t in (
        "embeddings region nation supplier part orders lineitem customer"
    ).split():
        link = f"{DST}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    print(f"skew fixture written to {DST}")


if __name__ == "__main__":
    main()
