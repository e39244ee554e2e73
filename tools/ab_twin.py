"""A/B one routed family's plain form against its skew-safe twin on a
hot-key fixture — the calibration harness behind the budgets in
operators/routing.py.

The family's row in ``routing.FAMILIES`` supplies both forms; the twin
runs at the bucket argument ``routing.plan`` returns for the fixture's
probe under this session's budgets (the twin ``route`` would build, on
either side of the crossover).  Inputs reuse the hot-key fixture
families: tools/gen_cusum_xl.py (one hot event_type + two 1/5-sized
cold keys, events schema) and tools/gen_pack_xl.py (one hot source
group, documents schema).

Protocol: ``bench.measure`` (clearCache + double GC before every rep,
min-of-N) over ``bench.drain`` (the noop sink: materializes every
output column; never a row-count drain — the r11 elision lesson,
tests/test_bench_drains.py):

    python tools/gen_cusum_xl.py && python tools/ab_twin.py ffill
    python tools/ab_twin.py cusum_reflected --fixture cusum_1m --reps 3
    python tools/gen_pack_xl.py && python tools/ab_twin.py pack_documents

Prints one JSON line {"family":..., "fixture":..., "hot_rows":...,
"route": plain|twin, <twin bucket parameter>: arg, "plain": s,
"twin": s, "twin_over_plain": ratio} — ratio < 1 means the twin won.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import drain, measure  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.operators import (  # noqa: E402
    routing as rt,
)
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402

LOCAL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata"
)
EVENTS = ("cusum_xl", "events", "tools/gen_cusum_xl.py")
DOCS = ("pack_xl", "documents", "tools/gen_pack_xl.py")
KEYED = {"ts_col": "ts", "key_col": "event_type"}


def _quotes(ev):
    """as-of right side: every 20th row pre-aggregated per (key, ts) —
    the trades-and-quotes shape with quotes ~5% of trades."""
    return (
        ev.filter(F.pmod(F.col("event_id"), F.lit(20)) == 0)
        .groupBy("event_type", "ts")
        .agg(F.max("value").alias("quote"))
    )


def _range_aggs(w):
    """the registered rolling_1h_range_frame shape: trailing count +
    exact-cents sum"""
    cents = F.round(F.col("value") * 100).cast("long")
    return {
        "n_1h": F.count(F.lit(1)).over(w),
        "sum_1h": F.sum(cents).over(w).cast("double") / F.lit(100.0),
    }


#: family -> (fixture family, table -> (plain args, plain kwargs))
INPUTS = {
    "asof_join": (EVENTS, lambda ev: (
        (ev.select("event_type", "ts", "event_id"), _quotes(ev)),
        {"key_col": "event_type", "payload_cols": ["quote"]},
    )),
    "cusum_reflected": (EVENTS, lambda ev: (
        (ev.select("event_type", "event_id", "ts", "value"),), {},
    )),
    "ewma": (EVENTS, lambda ev: (
        (ev.select("event_type", "ts", "value"), 0.3),
        {"window": 64, "value_col": "value", "order_col": "ts",
         "key_col": "event_type"},
    )),
    # sparse fill input: every 20th value kept, the rest forward-filled
    "ffill": (EVENTS, lambda ev: (
        (ev.select("event_type", "ts", F.when(
            F.pmod(F.col("event_id"), F.lit(20)) == 0, F.col("value")
        ).alias("v")), "v"),
        {**KEYED, "out_col": "filled"},
    )),
    "lead_pairs": (EVENTS, lambda ev: (
        (ev.select("event_type", "event_id", "ts"),), KEYED,
    )),
    "restamp_positional": (EVENTS, lambda ev: (
        (ev.select("event_type", "event_id", "ts"),
         "2025-01-01 00:00:00", 60),
        {**KEYED, "tiebreak_col": "event_id"},
    )),
    "rolling_range": (EVENTS, lambda ev: (
        (ev.select("event_type", "event_id", "ts", "value"), 3_600,
         _range_aggs),
        KEYED,
    )),
    "pack_documents": (DOCS, lambda docs: (
        (docs,), {"budget_tokens": 2048},
    )),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("family", choices=sorted(INPUTS))
    ap.add_argument("--fixture", help="directory under .localdata")
    ap.add_argument("--reps", type=int, default=2)
    opts = ap.parse_args()
    (default, table, gen), build = INPUTS[opts.family]
    name = opts.fixture or default
    path = os.path.join(LOCAL, name, f"{table}.parquet")
    if not os.path.exists(path):
        raise SystemExit(f"{path} missing — run {gen}")
    spark = get_spark(f"ab_twin_{opts.family}")
    args, kwargs = build(spark.read.parquet(path))
    fam = rt.FAMILIES[opts.family]
    a, probe, path_taken, arg = rt._decide(
        opts.family, args, kwargs, None, None
    )
    print(f"probe: {probe}", file=sys.stderr)
    if arg is None:
        raise SystemExit("no twin for this probe (no order-axis span)")

    variants = {
        "plain": lambda: fam.plain(**a),
        "twin": lambda: fam.twin(**{**a, fam.bucket: arg}),
    }

    out = {
        "family": opts.family,
        "fixture": name,
        "hot_rows": probe.max_key_rows,
        "route": path_taken,
        fam.bucket: arg,
    }
    for variant, make in variants.items():
        reps = measure(
            spark, f"{opts.family} {variant}", lambda: drain(make()), opts.reps
        )
        print(f"{variant}: {reps}", file=sys.stderr)
        out[variant] = min(reps)
    out["twin_over_plain"] = round(out["twin"] / out["plain"], 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
