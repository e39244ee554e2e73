"""Readers for every reference input format (SURVEY S4-S7).

All readers impose explicit schemas (the reference's type rule is
deterministic: first col DATETIME, rest DOUBLE) — no sampling-based
inference jobs at scale.  Spark reads local paths and object stores
(``s3a://``) through the same API, which subsumes the reference's separate
s3fs code paths (schema.py:62-98, dataset.py:183-240).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: training CSV timestamp format (reference dataset.py:163)
TRAINING_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def read_component_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    ts_format: str | None = None,
) -> DataFrame:
    """S5 — component training CSV with imposed schema + timestamp parse
    (reference dataset.py:507-509 ``parse_dates``)."""
    reader = spark.read.option("header", True).schema(schema)
    if ts_format:
        reader = reader.option("timestampFormat", ts_format)
    return reader.csv(path)


def read_labels_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5 — headerless 2-column label-ranges CSV -> (start, end) timestamps
    (reference dataset.py:126-130: ``header=None`` then columns renamed)."""
    schema = T.StructType(
        [
            T.StructField("start", T.TimestampType(), True),
            T.StructField("end", T.TimestampType(), True),
        ]
    )
    return spark.read.option("header", False).schema(schema).csv(path)


def read_tags_description(spark: SparkSession, path: str) -> DataFrame:
    """S5 — tag metadata dimension (Tag -> Subsystem), broadcast-sized
    (reference dataset.py:143-147)."""
    return (
        spark.read.option("header", True)
        .schema("Tag STRING, Subsystem STRING")
        .csv(path)
    )


def read_timeranges_txt(spark: SparkSession, path: str) -> dict[str, str]:
    """S6 — 4-line timeranges.txt -> train/eval bounds (reference
    dataset.py:133-140).  Tiny file: read as text, collect 4 rows."""
    rows = [r[0].strip() for r in spark.read.text(path).collect()]
    if len(rows) < 4:
        raise ValueError(f"timeranges file {path!r} needs 4 lines, got {len(rows)}")
    keys = ("training_start", "training_end", "evaluation_start", "evaluation_end")
    return dict(zip(keys, rows[:4]))


#: error spellings of Spark's refusal to read parquet timestamp[ns]:
#: the PARQUET_TYPE_ILLEGAL error class (Spark >= 3.4) and the plain
#: text older releases emit
_NANOS_ERRORS = ("PARQUET_TYPE_ILLEGAL", "Illegal Parquet type")
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def read_parquet_ts(
    spark: SparkSession, paths: list[str], ts_col: str
) -> DataFrame:
    """Read parquet whose ``ts_col`` may be timestamp[ns], which Spark has
    no type for.  Any other layout is one plain read.  Only the nanos
    failure falls back: a re-read with the legacy nanos-as-long conf,
    truncated to microseconds with exact integer division (matches
    DuckDB's ``CAST(ts AS TIMESTAMP)`` bit-for-bit; float division would
    drift by up to 256 ns).  The conf is restored afterwards, so
    unrelated reads in the session fail loudly on nanos columns instead
    of surfacing them as bigint; if the nanos column is not ``ts_col``,
    the original error is raised."""
    try:
        return spark.read.parquet(*paths)
    except AnalysisException as e:
        if not any(s in str(e) for s in _NANOS_ERRORS):
            raise
        nanos_error = e
    prev = spark.conf.get(_NANOS_CONF, None)
    spark.conf.set(_NANOS_CONF, "true")
    try:
        df = spark.read.parquet(*paths)
    finally:
        if prev is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prev)
    if dict(df.dtypes).get(ts_col) != "bigint":
        raise nanos_error
    return df.withColumn(
        ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
    )


def load_sample_bundle(spark: SparkSession, bundle_dir: str) -> dict:
    """Reference ``load_dataset`` bundle semantics (dataset.py:77-150)
    minus the S3 download: a directory holding ``*.parquet`` (wide
    time-series), headerless ``labels.csv``, ``tags_description.csv`` and
    4-line ``timeranges.txt`` becomes the same dict the reference returns
    — data / labels / tags_description DataFrames + the four train/eval
    bound strings.  Works against any Hadoop-readable URI."""
    import glob as _glob
    import os as _os

    pq_files = sorted(_glob.glob(_os.path.join(bundle_dir, "*.parquet")))
    if not pq_files:
        raise ValueError(f"no parquet time-series found under {bundle_dir!r}")
    bounds = read_timeranges_txt(
        spark, _os.path.join(bundle_dir, "timeranges.txt")
    )
    # pandas-written bundles (like the reference's expander.parquet)
    # carry timestamp[ns]
    data = read_parquet_ts(spark, pq_files, "Timestamp")
    return {
        "data": data,
        "labels": read_labels_csv(
            spark, _os.path.join(bundle_dir, "labels.csv")
        ),
        "tags_description": read_tags_description(
            spark, _os.path.join(bundle_dir, "tags_description.csv")
        ),
        **bounds,
    }


INFERENCE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("prediction", T.IntegerType(), True),
        T.StructField("anomaly_score", T.DoubleType(), True),
        T.StructField(
            "diagnostics",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType(), True),
                        T.StructField("value", T.DoubleType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


def read_inference_results(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S7 — JSON-lines inference outputs with typed schema (the reference
    ``eval``s each line, scheduler.py:626 — N4: replaced with from_json
    semantics via a typed json reader)."""
    return spark.read.schema(INFERENCE_RESULT_SCHEMA).json(paths)


def pivot_diagnostics(results: DataFrame) -> DataFrame:
    """N1 — explode + pivot diagnostics into wide per-sensor columns
    (reference scheduler.py:636-657).  Sensor names become columns named
    ``component\\tag`` exactly as the reference emits them."""
    exploded = results.select(
        "timestamp",
        "prediction",
        "anomaly_score",
        F.explode_outer("diagnostics").alias("d"),
    )
    return (
        exploded.groupBy("timestamp", "prediction", "anomaly_score")
        .pivot("d.name")
        .agg(F.first("d.value", ignorenulls=True))
        .drop("null")
    )


def read_columnar(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Columnar scan (``parquet``/``orc``) with an optionally IMPOSED
    schema — pass one to skip footer-sampling on wide 100 TB layouts and
    to pin types across heterogeneous file generations.  Counterpart of
    :func:`..sources.sinks.write_columnar`."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"columnar format must be parquet|orc, got {fmt!r}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
