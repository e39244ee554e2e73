"""Decade-scaling points for the r14 link-graph operators: anchor
extraction (row-local Arrow kernel), the host-graph fold (one count
aggregate), and join-based PageRank (5 damped iterations).

Protocol: ``bench.measure`` with ``keep_cache=True`` (the fixtures are
persisted before timing) — double GC before every rep, min-of-N
(SPARK_GRAFT_CRAWL_REPS, default 2) — over ``bench.drain``, the
noop-sink drain of the full output (tests/test_bench_drains.py pins
this harness).  Fixtures synthesize deterministically in-memory at two
scales:

- page corpus (3 anchors each, 1k hosts): 100k and 1M pages —
  html_extract_links and the extract→host_graph chain;
- edge list (Zipf-ish fan-out over 10k / 100k hosts, ~10 edges per
  host): pagerank float mode and grid mode.

    python tools/bench_linkgraph.py

Prints one JSON line {"op": {"small": s, "big": s, "ratio": r}, ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import drain, measure  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.operators import (  # noqa: E402
    linkgraph as LG,
)
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402

REPS = int(os.environ.get("SPARK_GRAFT_CRAWL_REPS", "2"))
SMALL = int(os.environ.get("SPARK_GRAFT_CRAWL_SMALL", "100000"))
BIG = int(os.environ.get("SPARK_GRAFT_CRAWL_BIG", "1000000"))
N_HOSTS = 1000
ITERS = 5


def _pages(spark, n: int):
    """n HTML pages over N_HOSTS hosts, three anchors each (absolute,
    relative-to-base, nofollow) — the host_pagerank oracle shape at
    harness scale."""
    hid = F.col("id") % N_HOSTS
    h = lambda e: F.concat(  # noqa: E731
        F.lit("site"), e.cast("string"), F.lit(".example.org")
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://"), h(hid), F.lit("/p/"), F.col("id").cast("string")
        ).alias("url"),
        F.concat(
            F.lit('<html><body><p>a <a href="https://'),
            h((hid * 3 + F.col("id")) % N_HOSTS),
            F.lit('/x">one</a> b <a href="//'),
            h((hid + 7) % N_HOSTS),
            F.lit('/y">two</a> c <a href="https://'),
            h((hid + 1) % N_HOSTS),
            F.lit('/ad" rel="nofollow">ads</a></p></body></html>'),
        ).alias("html"),
        h(hid).alias("src_host"),
    )


def _edges(spark, n_hosts: int, deg: int = 10):
    """n_hosts*deg edges with skewed in-degree (dst = src*k % n mixes a
    few hubs in) — the PageRank fixture."""
    return (
        spark.range(n_hosts * deg)
        .select(
            (F.col("id") % n_hosts).alias("s"),
            ((F.col("id") * 31 + F.col("id") % 7) % n_hosts).alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .select(
            F.concat(F.lit("h"), F.col("s").cast("string")).alias("src_host"),
            F.concat(F.lit("h"), F.col("d").cast("string")).alias("dst_host"),
            (F.col("s") % 3 + 1).cast("long").alias("n_links"),
        )
    )


def _time(spark, label: str, build) -> float:
    return min(measure(spark, label, lambda: drain(build()), REPS, keep_cache=True))


def main() -> None:
    spark = get_spark("bench_linkgraph")
    fixtures = {}
    for n in (SMALL, BIG):
        p = _pages(spark, n).persist()
        e = _edges(spark, max(n // 10, 1)).persist()
        for df in (p, e):
            drain(df)
        fixtures[n] = (p, e)

    def chain(p):
        links = LG.html_extract_links(
            p, html_col="html", id_col="doc_id", base_col="url"
        ).join(p.select("doc_id", "src_host"), "doc_id")
        return LG.host_graph(links)

    cases = {
        "html_extract_links": lambda p, e: LG.html_extract_links(
            p, html_col="html", id_col="doc_id", base_col="url"
        ),
        "extract_to_host_graph": lambda p, e: chain(p),
        "extract_to_anchor_terms": lambda p, e: LG.anchor_terms(
            LG.html_extract_links(
                p, html_col="html", id_col="doc_id", base_col="url"
            )
        ),
        "pagerank_float": lambda p, e: LG.pagerank(e, iterations=ITERS),
        "pagerank_grid": lambda p, e: LG.pagerank(
            e, iterations=ITERS, grid_scale=10**9
        ),
    }
    out = {}
    for name, build in cases.items():
        small = _time(spark, f"{name} {SMALL}", lambda: build(*fixtures[SMALL]))
        big = _time(spark, f"{name} {BIG}", lambda: build(*fixtures[BIG]))
        out[name] = {
            "small": small,
            "big": big,
            "ratio": round(big / small, 2) if small else None,
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
