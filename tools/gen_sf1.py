"""Generate the local sf1 bench fixture (~10x sf0.1) under
.localdata/sf1/ — NOT driver data, NOT an oracle input; used only by
``tools/ab.py sf1`` to measure scaling factors of the most expensive
queries (BASELINE.md section "sf1 self-bench").

Construction: 10 id-shifted copies of the sf0.1 tables with per-copy
DECORRELATION so workload characteristics scale linearly instead of
quadratically:

- documents: copy i>0 remaps every token t -> "t_ci" (a per-copy
  bijective vocabulary rename).  Within-copy shingle sets — and thus
  every Jaccard, MinHash bucket, tf-idf structure — are preserved
  EXACTLY; cross-copy shingle overlap is zero, so near-dup pair mass
  grows 10x, not 100x.  Vocabulary grows ~10x, as a real 10x crawl's
  long tail would.
- embeddings: copy i applies a fixed random PERMUTATION of the vector
  components.  Permutation preserves norms and all within-copy dot
  products exactly; cross-copy cosines become ~random, so LSH/IVF
  bucket sizes scale linearly.
- events: ids/user_ids shift per copy; timestamps keep the same span
  (10x event density, the natural fact-table scaling).

Other tables are symlinked from sf0.1 (only needed so `load` of a
dimension doesn't fail).  Deterministic: seed fixed, no wall clock.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
#: replication factor and output dir are overridable for larger points
#: (e.g. SPARK_GRAFT_SF_COPIES=30 -> .localdata/sf3)
COPIES = int(os.environ.get("SPARK_GRAFT_SF_COPIES", "10"))
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata",
    os.environ.get("SPARK_GRAFT_SF_NAME", "sf1"),
)


def main() -> None:
    spark = get_spark("gen_sf1")
    os.makedirs(DST, exist_ok=True)

    # documents: per-copy vocabulary rename
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    parts = []
    for i in range(COPIES):
        if i == 0:
            parts.append(docs)
            continue
        suffix = F.lit(f"_c{i}")
        remapped = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t: F.when(t == "", t).otherwise(F.concat(t, suffix)),
            ),
            " ",
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
                remapped.alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text"))
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{DST}/documents.parquet")

    # embeddings: per-copy component permutation
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    n_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    rng = random.Random(42)
    parts = []
    for i in range(COPIES):
        if i == 0:
            parts.append(emb)
            continue
        perm = list(range(dim))
        rng.shuffle(perm)
        permuted = F.array(
            *[F.element_at(F.col("embedding"), p + 1) for p in perm]
        )
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * n_vec)).alias("vec_id"),
                permuted.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")

    # events: id shifts, same time span
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_ev = ev.agg(F.max("event_id")).first()[0] + 1
    n_usr = ev.agg(F.max("user_id")).first()[0] + 1
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(i * n_ev)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * n_usr)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(COPIES)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(f"{DST}/events.parquet")

    # relational facts (r8: the decision-support spine needs decade
    # points too): id-shifted copies with the SAME construction logic as
    # events — orderkeys shift per copy and lineitem shifts in lockstep
    # so the orderkey join fanout per order is preserved; custkeys shift
    # with orders; part/supplier dims stay fixed, so per-supplier /
    # per-part order volume grows linearly with the corpus, which is what
    # a real 10x business would do to its dimensions' fan-in.
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    cust = spark.read.parquet(f"{SRC}/customer.parquet")
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    n_ord = orders.agg(F.max("o_orderkey")).first()[0] + 1
    n_cst = cust.agg(F.max("c_custkey")).first()[0] + 1

    def shifted(df, shifts: dict):
        parts = []
        for i in range(COPIES):
            cols = [
                (F.col(c) + F.lit(i * n)).alias(c) if i else F.col(c)
                for c, n in shifts.items()
            ] + [c for c in df.columns if c not in shifts]
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*df.columns)

    def write_scaled(df, table):
        dst = f"{DST}/{table}.parquet"
        if os.path.islink(dst):  # pre-r8 fixtures symlinked these
            os.remove(dst)
        df.repartition(32).write.mode("overwrite").parquet(dst)

    write_scaled(
        shifted(orders, {"o_orderkey": n_ord, "o_custkey": n_cst}), "orders"
    )
    write_scaled(shifted(li, {"l_orderkey": n_ord}), "lineitem")
    write_scaled(shifted(cust, {"c_custkey": n_cst}), "customer")

    # small dimensions: symlink (read-only driver data)
    for t in "region nation supplier part".split():
        link = f"{DST}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    print(f"sf1 fixture written to {DST}")


if __name__ == "__main__":
    main()
