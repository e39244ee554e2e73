"""``_chunkjoin.keyed_scan`` against a per-key Python fold.

The prefix-scan twins (restamp, pack, ffill, the as-of fill, CUSUM and
the rows-frame index) all run on this one core, so it is pinned here
directly, op by op, on the geometries the twins meet: empty buckets, a
single bucket, NULL keys, null order values (the sentinel front
bucket), a keyless scan and a negated (descending) order axis.
"""

from __future__ import annotations

import random
import zlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from amazon_lookout_for_equipment_python_sdk_spark.operators._chunkjoin import (
    bucket_axis,
    keyed_scan,
)

SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("t", LongType()),
        StructField("id", LongType()),
        StructField("v", LongType()),
    ]
)


def _rows(seed, n, keys, t_max, null_t):
    rng = random.Random(seed)
    return [
        (
            rng.choice(keys),
            None if rng.random() < null_t else rng.randrange(t_max),
            i,
            None if rng.random() < 0.3 else rng.randrange(-50, 50),
        )
        for i in range(n)
    ]


def _fold(rows, keyed, sign):
    """Per key, in (sign * t nulls first, id) order: running count, sum,
    last non-null and min of the running sum, as SQL windows define
    them (null until the first non-null value)."""
    groups = {}
    for r in rows:
        groups.setdefault(r[0] if keyed else None, []).append(r)
    out = {}
    for grp in groups.values():
        grp.sort(
            key=lambda r: (r[1] is not None, sign * (r[1] or 0), r[2])
        )
        n, s, last, m = 0, None, None, None
        for _, _, i, v in grp:
            n += 1
            if v is not None:
                s = v if s is None else s + v
                last = v
                m = s if m is None else min(m, s)
            out[i] = (n, s, last, m)
    return out


@pytest.mark.parametrize(
    "geometry, keys, span, t_max, null_t, sign",
    [
        ("empty_buckets", ["a", "b", None], 7, 2_000, 0.0, 1),
        ("one_bucket", ["a", "b"], 10**9, 500, 0.0, 1),
        ("null_keys", [None, None, "a"], 25, 600, 0.0, 1),
        ("null_order", ["a", None], 40, 800, 0.15, 1),
        ("keyless", None, 30, 900, 0.1, 1),
        ("negated_order", ["a", "b", None], 35, 700, 0.1, -1),
    ],
)
def test_keyed_scan_matches_python_fold(
    spark, geometry, keys, span, t_max, null_t, sign
):
    seed = zlib.crc32(geometry.encode())
    rows = _rows(seed, 300, keys or ["a", "b", None], t_max, null_t)
    df = spark.createDataFrame(rows, SCHEMA)
    axis = F.col("t") * F.lit(sign)
    staged = df.withColumn("_b", bucket_axis(axis, span, "id"))
    got = keyed_scan(
        staged,
        ["k"] if keys else [],
        [axis, "id"],
        {
            "n": ("sum", F.lit(1)),
            "s": ("sum", "v"),
            "last": ("last", "v"),
            "m": ("min_sum", "v"),
        },
    )
    assert got.columns == ["k", "t", "id", "v", "_b", "n", "s", "last", "m"]
    result = {
        r["id"]: (r["n"], r["s"], r["last"], r["m"]) for r in got.collect()
    }
    assert result == _fold(rows, bool(keys), sign)
    n_buckets = staged.select("_b").distinct().count()
    if geometry == "one_bucket":
        assert n_buckets == 1
    else:
        assert n_buckets > 10


def test_keyed_scan_rejects_unknown_op(spark):
    df = spark.createDataFrame(_rows(1, 5, ["a"], 10, 0.0), SCHEMA)
    with pytest.raises(ValueError, match="ops must be in"):
        keyed_scan(
            df.withColumn("_b", F.lit(0)), ["k"], ["t"], {"x": ("max", "v")}
        )
