"""Generate .localdata/pack_* — monolithic-group documents fixtures for
the pack family's A/B (r12, the serialized-sort-cliff close: r11
verdict #4).

One hot source group of ``SPARK_GRAFT_PACK_HOT`` docs (the shape where
plain ``pack_documents``' per-group window serializes the whole slice
onto ONE task's sort) plus two cold groups a fifth the size, so
``max_key_rows`` is always the hot group and the offset/broadcast paths
see >1 key.  Texts are short deterministic token runs (5-27 tokens from
xxhash64 — pack cost is the CUMSUM over token counts, not text volume,
so small texts keep the fixture disk-light while the window work stays
shape-accurate).  doc_id is globally sequential per group (the numeric
axis the twin buckets on).  Deterministic: no wall clock, no RNG.  NOT
driver data, NOT an oracle input; consumed only by tools/ab_twin.py.

    python tools/gen_pack_xl.py                      # 5M hot (default)
    SPARK_GRAFT_PACK_HOT=1000000 SPARK_GRAFT_PACK_NAME=pack_1m \
        python tools/gen_pack_xl.py                  # bracketing points
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
HOT_ROWS = int(os.environ.get("SPARK_GRAFT_PACK_HOT", str(5_000_000)))
COLD_ROWS = max(HOT_ROWS // 5, 10_000)
DST = os.path.join(
    LOCAL, os.environ.get("SPARK_GRAFT_PACK_NAME", "pack_xl")
)


def main() -> None:
    spark = get_spark("gen_pack_xl")
    parts = []
    for src, rows in (("hot", HOT_ROWS), ("cold_a", COLD_ROWS), ("cold_b", COLD_ROWS)):
        n_tok = (F.pmod(F.xxhash64(F.col("id"), F.lit(src)), F.lit(23)) + 5).cast("int")
        parts.append(
            spark.range(rows).select(
                F.col("id").alias("doc_id"),
                F.lit(src).alias("source"),
                F.concat_ws(
                    " ", F.array_repeat(F.lit("tok"), n_tok)
                ).alias("text"),
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(os.path.join(DST, "documents.parquet"))
    print(f"wrote {DST} hot={HOT_ROWS} cold={COLD_ROWS}x2")


if __name__ == "__main__":
    main()
