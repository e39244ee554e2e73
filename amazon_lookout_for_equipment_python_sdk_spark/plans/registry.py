"""Query registry + cross-engine deterministic helpers.

Each entry in ``QUERIES`` is ``name -> fn(spark, sf_dir) -> DataFrame``; the
matching ``ORACLE_SQL[name]`` is ANSI SQL DuckDB runs over the same parquet
(views: region nation customer supplier part orders lineitem events documents
embeddings).  Column names/aliases match exactly on both sides.

Float determinism (the driver hash-compares values exactly):
- Engine-level ``round()`` is NOT portable: Spark rounds the shortest decimal
  repr of a double (BigDecimal.valueOf), DuckDB rounds the binary value, so
  results diverge whenever the true value sits on a rounding boundary — which
  happens constantly with 2-decimal source data.
- Therefore every emitted float is produced by a *bit-deterministic* pipeline:
  aggregate exact scaled integers (cents), then only IEEE-deterministic ops
  (+ - * / floor), which give identical bits in both engines.  Where a value
  passes through a genuinely order-dependent float sum (window sums), its true
  value is generic (not on a decimal grid), so ``floor(x*1e4)/1e4``
  quantization is stable.

Conventions:
- 5-minute resample rate (SURVEY A1; reference TargetSamplingRate PT5M,
  model.py:157-158); buckets epoch-aligned floor(ts / rate).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.routing import FAMILIES
from ..sources.readers import read_parquet_ts

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

RATE = 300  # 5-minute resample, seconds
ROLL = 12  # rolling window, buckets (1h of 5-min slots)
ROUND = 4


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a driver testdata table.

    ``events.ts`` has shipped as either parquet timestamp[us] (read
    natively) or timestamp[ns] (``read_parquet_ts``'s fallback).
    """
    df = read_parquet_ts(spark, [f"{sf_dir}/{table}.parquet"], "ts")
    # tz-naive parquet timestamps surface as TIMESTAMP_NTZ under Spark
    # 4's native reader; several operators (unix_micros in sessionize)
    # require TIMESTAMP.  Session tz is pinned UTC (session.py), so the
    # cast is value-preserving and bit-identical to DuckDB's naive
    # timestamps.  Normalizing here keeps every downstream operator
    # type-stable across both shipped layouts.
    for f_ in df.schema.fields:
        if f_.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    return df


def load_par(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``load`` + guarantee at least ``defaultParallelism`` partitions.

    Small-SF parquet is one row group, so the scan is ONE partition and
    every row-local stage downstream (md5 signatures, shingling, vector
    scoring) runs on a single core.  A round-robin repartition of the
    tiny input (<1 MB shuffle) buys full-width codegen parallelism.  At
    cluster scale the scan already exceeds core count, the condition is
    false, and this is a no-op — the check reads the planned partition
    count, not a heuristic.

    Use it for compute-dense pipelines only: all of its inputs are under
    1 MB, so no size rule separates the cases; compute density does.
    Measured at sf0.1 on 4 cores (``tools/ab.py``, min of 3, against
    plain ``load``, two rounds): the fan-out wins 16 to 18 of its 22
    registered queries, summed minima 41-45 s against 64-67 s
    (``gopher_repetition_rules`` 3.7-4.2 vs 11.6-12.3 s,
    ``duplicate_spans_k20`` 2.9-3.3 vs 7.4 s); plain ``load`` reads
    faster in both rounds only on ``pq_adc_topk``, ``ivfpq_adc_topk``
    and ``semantic_dedup_cells``."""
    df = load(spark, sf_dir, table)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def register_twins(
    family: str, name: str, twin_name: str, oracle: str, span: int
):
    """Register ``build(spark, sf_dir, op=...)`` twice with one oracle:
    as ``name`` with ``op`` = ``FAMILIES[family]``'s plain operator, and
    as ``twin_name`` with ``op`` = its skew-safe twin at bucket span
    ``span``.  The body calls ``op`` as it would the plain form, passing
    every argument after the leading ones both forms share by keyword:
    the twin's bucket parameter follows those, so a further positional
    argument would collide with it."""
    fam = FAMILIES[family]
    twin = functools.partial(fam.twin, **{fam.bucket: span})

    def deco(build):
        for n, op in ((name, fam.plain), (twin_name, twin)):
            # the row keeps the body's name and module
            # (perfbench/query_mix.py groups its rows by module)
            row = functools.partial(build, op=op)
            register(n, oracle)(functools.update_wrapper(row, build))
        return build

    return deco


# --- deterministic float helpers (Spark side) -------------------------------


def qfloor(c: Column, n: int = ROUND) -> Column:
    """floor(x*10^n)/10^n — IEEE-deterministic quantization (see module doc)."""
    return F.floor(c * F.lit(10.0**n)) / F.lit(10.0**n)


def cents(c: Column, scale: int = 100) -> Column:
    """Exact scaled-integer of a fixed-decimal double column (scale=10^d).

    round() is safe here (unlike on computed floats) because the scaled
    value sits within 1e-6 of an integer, far from any .5 boundary."""
    return F.round(c * scale).cast("long")


def det_avg(c: Column, scale: int = 100) -> Column:
    """Bit-deterministic avg of fixed-decimal data: sum(scaled)/(scale*n)."""
    return F.sum(cents(c, scale)) / (F.count(c) * F.lit(float(scale)))


def det_sum(c: Column, scale: int = 100) -> Column:
    """Bit-deterministic sum of fixed-decimal data."""
    return F.sum(cents(c, scale)) / F.lit(float(scale))


# --- the same helpers as SQL text (DuckDB side) -----------------------------


def sql_qfloor(expr: str, n: int = ROUND) -> str:
    return f"floor(({expr}) * 1e{n}) / 1e{n}"


def sql_det_avg(col: str, scale: int = 100) -> str:
    return (
        f"(sum(CAST(round(({col})*{scale}) AS BIGINT)) / "
        f"(count({col}) * {float(scale)}))"
    )


def sql_det_sum(col: str, scale: int = 100) -> str:
    return f"(sum(CAST(round(({col})*{scale}) AS BIGINT)) / {float(scale)})"


SQL_BUCKET = (
    f"CAST(to_timestamp(floor(epoch(ts)/{RATE})*{RATE}) AS TIMESTAMP)"
)


