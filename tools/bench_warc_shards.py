"""Pin the WARC ingest throughput-vs-shard-count contract (r12 verdict
#6): warc_ingest's decade point was measured at 8 shards both times, so
"parallelism = #shards" was asserted, not exercised.  This harness scales
the corpus (documents replicated REPL_FACTOR times with distinct URIs),
writes it at several shard counts, and times the read+rollup at each —
plus one pass against a deliberately CORRUPT shard to price the
tolerant-resync path.

Protocol: ``bench.measure`` — clearCache + double GC before every rep,
min-of-N (SPARK_GRAFT_WARC_REPS, default 2) — over ``bench.drain``, the
un-prunable noop-sink drain of the full per-lang rollup (count + char
mass + hash sum — the whole decode lineage must evaluate;
tests/test_bench_drains.py pins this harness).  Each write rep writes a
fresh directory; the reads time the last one.

    python tools/bench_warc_shards.py
    SPARK_GRAFT_WARC_REPL=20 SPARK_GRAFT_WARC_SHARDS=8,64 \
        python tools/bench_warc_shards.py

Prints one JSON line:
{"rows": N, "shard_counts": {"8": {"write": s, "read": s}, ...},
 "corrupt": {"read": s, "error_rows": k, "ok_rows": n}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import drain, measure  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.sources.warc import (  # noqa: E402
    read_warc,
    write_warc,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPL = int(os.environ.get("SPARK_GRAFT_WARC_REPL", "10"))
SHARDS = [
    int(x)
    for x in os.environ.get("SPARK_GRAFT_WARC_SHARDS", "8,64").split(",")
]
REPS = int(os.environ.get("SPARK_GRAFT_WARC_REPS", "2"))
LOCAL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata",
    "warc_shards",
)


def _read_rollup(spark, shard_dir: str):
    back = read_warc(spark, shard_dir, record_types=["conversion"]).filter(
        F.col("error").isNull()
    )
    txt = back.select(
        F.split(F.col("target_uri"), "/").getItem(3).alias("lang"),
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )
    return txt.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
        F.sum(
            F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast(
                "long"
            )
        ).alias("sum_h"),
    )


def main() -> None:
    spark = get_spark("bench_warc_shards")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # replicate with distinct URIs so shard assignment stays uniform
    reps_df = spark.range(REPL).withColumnRenamed("id", "rep")
    corpus = docs.crossJoin(reps_df).select(
        F.concat(
            F.lit("https://corpus.local/"),
            F.col("lang"),
            F.lit("/r"),
            F.col("rep").cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    n_rows = (
        docs.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"] * REPL
    )
    out: dict = {"rows": n_rows, "sf_dir": SF_DIR, "shard_counts": {}}
    shutil.rmtree(LOCAL, ignore_errors=True)

    for n_shards in SHARDS:
        written = []

        def write():
            written.append(os.path.join(LOCAL, f"s{n_shards}_{len(written)}"))
            write_warc(corpus, written[-1], n_shards=n_shards)

        w_times = measure(spark, f"warc write {n_shards}", write, REPS)
        r_times = measure(
            spark,
            f"warc read {n_shards}",
            lambda: drain(_read_rollup(spark, written[-1])),
            REPS,
        )
        out["shard_counts"][str(n_shards)] = {
            "write": min(w_times),
            "read": min(r_times),
        }

    # corrupt one shard of the LAST layout mid-file: the resync contract
    # says one garbage run costs error rows, not the shard (or the run)
    shard_dir = written[-1]
    victim = os.path.join(shard_dir, "shard-00000.warc.gz")
    blob = open(victim, "rb").read()
    cut = len(blob) // 2
    open(victim, "wb").write(blob[:cut] + b"GARBAGE" * 64 + blob[cut:])
    (corrupt_read,) = measure(
        spark,
        "warc read corrupt",
        lambda: drain(_read_rollup(spark, shard_dir)),
        1,
    )
    # correctness side-check (untimed): the corruption costs error rows,
    # never the shard or the run
    stats = {
        bool(r["is_err"]): r["n"]
        for r in read_warc(spark, shard_dir)
        .groupBy(F.col("error").isNotNull().alias("is_err"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out["corrupt"] = {
        "read": round(corrupt_read, 3),
        "error_rows": int(stats.get(True, 0)),
        "total_rows": int(stats.get(False, 0)),
    }
    shutil.rmtree(LOCAL, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
