"""Decade-scaling points for the r13 crawl-front-end operators:
URL canonicalization (row-local Arrow kernel), the robots.txt gate
(rule-table join + distinct-probe verdicts), and sitemap parsing
(one Arrow kernel over (host, blob) rows).

Protocol: ``bench.measure`` with ``keep_cache=True`` (a clearCache
would unpersist the pre-materialized fixtures and pull their synthesis
back inside the timed region) — double GC before every rep, min-of-N
(SPARK_GRAFT_CRAWL_REPS, default 2) — over ``bench.drain``, the
noop-sink drain of the full output (tests/test_bench_drains.py pins
this harness).
Fixtures are synthesized deterministically in-memory at two scales
(default 100k and 1M URL rows over 1k hosts; sitemap corpus 1k/10k
files of 200 locs each) — decade ratio = big/small per operator.

    python tools/bench_crawl_ops.py

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
    frontier as FR,
)
from amazon_lookout_for_equipment_python_sdk_spark.operators import (  # noqa: E402
    robots as R,
)
from amazon_lookout_for_equipment_python_sdk_spark.operators import (  # noqa: E402
    urls as U,
)
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.sources import (  # noqa: E402
    sitemaps as SM,
)

REPS = int(os.environ.get("SPARK_GRAFT_CRAWL_REPS", "2"))
SMALL = int(os.environ.get("SPARK_GRAFT_CRAWL_SMALL", "100000"))
BIG = int(os.environ.get("SPARK_GRAFT_CRAWL_BIG", "1000000"))
N_HOSTS = 1000


def _urls(spark, n: int):
    """Deterministic URL corpus: mixed schemes/ports/dot-segments/
    tracking params so the canonicalizer does real work."""
    return spark.range(n).select(
        F.concat(
            F.when(F.col("id") % 3 == 0, F.lit("HTTPS://Site"))
            .otherwise(F.lit("https://site")),
            (F.col("id") % N_HOSTS).cast("string"),
            F.lit(".example.org"),
            F.when(F.col("id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/section/"),
            (F.col("id") % 7).cast("string"),
            F.when(F.col("id") % 5 == 0, F.lit("/../alt")).otherwise(
                F.lit("")
            ),
            F.lit("/page/"),
            F.col("id").cast("string"),
            F.when(
                F.col("id") % 2 == 0, F.lit("?utm_source=x&b=2&a=1")
            ).otherwise(F.lit("")),
        ).alias("url")
    )


def _robots_corpus(spark):
    """1k hosts; every host disallows two prefixes and allows one back."""
    return spark.range(N_HOSTS).select(
        F.concat(
            F.lit("site"), F.col("id").cast("string"), F.lit(".example.org")
        ).alias("host"),
        F.concat(
            F.lit(
                "User-agent: *\nDisallow: /section/3/\n"
                "Allow: /section/3/page/\nDisallow: /*.tmp$\n"
            )
        ).alias("robots_txt"),
    )


def _sitemap_corpus(spark, n_files: int, locs_per_file: int = 200):
    @F.udf("string")
    def mk(i):
        body = "".join(
            f"<url><loc>https://h{i}.example/p/{j}</loc>"
            f"<priority>0.{j % 10}</priority></url>"
            for j in range(locs_per_file)
        )
        return f"<urlset>{body}</urlset>"

    return spark.range(n_files).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        mk(F.col("id")).alias("sitemap_xml"),
    )


def _time(spark, label: str, build) -> float:
    return min(measure(spark, label, lambda: drain(build()), REPS, keep_cache=True))


def main() -> None:
    spark = get_spark("bench_crawl_ops")
    robots = _robots_corpus(spark).persist()
    drain(robots)
    out = {}
    # fixtures PERSIST and drain before any timing — synthesis must not
    # ride inside the measured region
    fixtures = {}
    for n in (SMALL, BIG):
        u = _urls(spark, n).persist()
        sm = _sitemap_corpus(spark, max(n // 100, 1)).persist()
        for df in (u, sm):
            drain(df)
        fixtures[n] = (u, sm)
    # per-host rate table (r14): half the hosts carry an override —
    # the broadcast join the rated frontier adds over the plain one
    rates = (
        spark.range(N_HOSTS // 2)
        .select(
            F.concat(
                F.lit("site"),
                (F.col("id") * 2).cast("string"),
                F.lit(".example.org"),
            ).alias("host"),
            (F.col("id") % 7 + 1).cast("int").alias("k"),
        )
        .persist()
    )
    drain(rates)
    cases = {
        "canonicalize_url": lambda u, sm: U.canonicalize_url(u),
        "robots_filter": lambda u, sm: R.robots_filter(u, robots),
        "parse_sitemaps": lambda u, sm: SM.parse_sitemaps(sm),
        "frontier_batches": lambda u, sm: FR.frontier_batches(u),
        "frontier_batches_rated": lambda u, sm: FR.frontier_batches(
            u, per_host_k=rates
        ),
    }
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
