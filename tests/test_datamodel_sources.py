"""Wide<->long duality, readers/sinks file-contract round-trips."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark import datamodel as dm
from amazon_lookout_for_equipment_python_sdk_spark.sources import (
    load_sample_bundle,
    read_component_csv,
    read_inference_results,
    read_labels_csv,
    read_tags_description,
    read_timeranges_txt,
    write_component_csvs,
    write_inference_chunks,
)
from amazon_lookout_for_equipment_python_sdk_spark.sources.readers import (
    pivot_diagnostics,
)
from amazon_lookout_for_equipment_python_sdk_spark import schema as sch


def _long_df(spark, n_minutes=30):
    rows = []
    for i in range(n_minutes):
        for comp, tag in [("pump", "p1"), ("pump", "p2"), ("motor", "m1")]:
            rows.append(
                (f"2024-01-01 00:{i:02d}:00", comp, tag, float(i) + hash(tag) % 7)
            )
    return spark.createDataFrame(
        rows, "timestamp string, component string, tagname string, value double"
    ).select(
        F.to_timestamp("timestamp").alias("timestamp"),
        "component",
        "tagname",
        "value",
    )


def test_wide_long_roundtrip(spark):
    long_df = _long_df(spark).drop("component")
    wide = dm.long_to_wide(long_df)
    assert set(wide.columns) == {"Timestamp", "p1", "p2", "m1"}
    back = dm.wide_to_long(wide)
    assert back.count() == long_df.count()
    j = long_df.alias("a").join(
        back.alias("b"),
        (F.col("a.timestamp") == F.col("b.timestamp"))
        & (F.col("a.tagname") == F.col("b.tagname"))
        & (F.col("a.value") == F.col("b.value")),
    )
    assert j.count() == long_df.count()


def test_component_csv_sink_and_schema_inference(spark, tmp_path):
    out = str(tmp_path / "train_data")
    write_component_csvs(_long_df(spark), out)
    # layout: one dir per component (reference dataset.py:154-167)
    comp_dirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(out, "component=*"))
    )
    assert comp_dirs == ["component=motor", "component=pump"]
    # the reference's schema inference works on a dir-per-component tree
    tree = str(tmp_path / "tree")
    os.makedirs(tree)
    for d in comp_dirs:
        comp = d.split("=")[1]
        os.symlink(os.path.join(out, d), os.path.join(tree, comp))
    doc = sch.create_data_schema_from_dir(tree, spark)
    parsed = sch.parse_data_schema(doc)
    assert parsed["pump"].fields[0] == "Timestamp"
    # per-component columns (reference dataset.py:160-162): pump's file
    # carries pump's sensors only, never motor's
    assert set(parsed["pump"].fields[1:]) == {"p1", "p2"}
    assert set(parsed["motor"].fields[1:]) == {"m1"}
    # reference CSVs are time-sorted within each component (dataset.py:154-167)
    for d in comp_dirs:
        for csv_file in glob.glob(os.path.join(out, d, "*.csv")):
            stamps = [
                line.split(",", 1)[0]
                for line in open(csv_file).read().splitlines()[1:]
            ]
            assert stamps == sorted(stamps), csv_file


def test_load_sample_bundle(spark, tmp_path):
    """Reference load_dataset bundle layout -> dict of frames + bounds
    (dataset.py:77-150, minus the S3 download)."""
    import pandas as pd

    bundle = tmp_path / "bundle"
    bundle.mkdir()
    pd.DataFrame(
        {
            "Timestamp": pd.date_range("2024-01-01", periods=6, freq="1min"),
            "p1": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    ).to_parquet(bundle / "expander.parquet")
    (bundle / "labels.csv").write_text(
        "2024-01-01 00:01:00,2024-01-01 00:02:00\n"
    )
    (bundle / "tags_description.csv").write_text("Tag,Subsystem\np1,pump\n")
    (bundle / "timeranges.txt").write_text(
        "2024-01-01 00:00:00\n2024-01-01 00:03:00\n"
        "2024-01-01 00:03:00\n2024-01-01 00:05:00\n"
    )
    d = load_sample_bundle(spark, str(bundle))
    assert d["data"].count() == 6
    assert d["labels"].collect()[0]["start"].minute == 1
    assert d["tags_description"].collect()[0]["Subsystem"] == "pump"
    assert d["training_start"] == "2024-01-01 00:00:00"
    assert d["evaluation_end"] == "2024-01-01 00:05:00"


def test_timestamp_ns_parquet_read_by_both_callers(spark, tmp_path):
    """timestamp[ns] parquet (pandas' default) has no Spark type: the
    registry's ``load`` and ``load_sample_bundle`` both fall back to the
    legacy nanos-as-long read, truncate to microseconds, and leave the
    session's nanos conf as they found it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_lookout_for_equipment_python_sdk_spark.plans.registry import (
        load,
    )

    ns = [1_704_067_200_000_000_999, 1_704_067_260_123_456_789]
    table = pa.table(
        {"ts": pa.array(ns, pa.timestamp("ns")), "value": [1.0, 2.0]}
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(table, sf / "events.parquet")
    bundle = tmp_path / "bundle"
    bundle.mkdir()
    pq.write_table(
        table.rename_columns(["Timestamp", "p1"]), bundle / "expander.parquet"
    )
    (bundle / "labels.csv").write_text("2024-01-01 00:00:00,2024-01-01 00:01:00\n")
    (bundle / "tags_description.csv").write_text("Tag,Subsystem\np1,pump\n")
    (bundle / "timeranges.txt").write_text("a\nb\nc\nd\n")

    key = "spark.sql.legacy.parquet.nanosAsLong"
    want = sorted(t // 1000 for t in ns)
    for conf in ("false", None):
        if conf is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, conf)
        before = spark.conf.get(key, None)
        events = load(spark, str(sf), "events")
        data = load_sample_bundle(spark, str(bundle))["data"]
        for df, col in ((events, "ts"), (data, "Timestamp")):
            assert dict(df.dtypes)[col] == "timestamp"
            got = sorted(
                r[0] for r in df.select(F.unix_micros(col)).collect()
            )
            assert got == want, (col, got)
        assert spark.conf.get(key, None) == before
    spark.conf.unset(key)


def test_component_csv_roundtrip_read(spark, tmp_path):
    out = str(tmp_path / "train_data")
    long_df = _long_df(spark)
    write_component_csvs(long_df, out)
    st = sch.ComponentSchema("pump", ["Timestamp", "p1", "p2"]).to_struct_type()
    back = read_component_csv(
        spark,
        os.path.join(out, "component=pump"),
        st,
        ts_format="yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    )
    assert back.count() == 30
    assert back.filter(F.col("p1").isNull()).count() == 0
    # motor's sensors never appear in pump's files (dataset.py:160-162)
    assert "m1" not in back.columns


def test_inference_chunk_sink_contract(spark, tmp_path):
    out = str(tmp_path / "infer")
    os.makedirs(out)
    written = write_inference_chunks(
        _long_df(spark, n_minutes=30), out, frequency_minutes=10
    )
    names = sorted(os.path.basename(p) for p in written)
    # {component}_{yyyyMMddHHmmss}.csv, 3 slots x 2 components
    assert names == [
        "motor_20240101000000.csv",
        "motor_20240101001000.csv",
        "motor_20240101002000.csv",
        "pump_20240101000000.csv",
        "pump_20240101001000.csv",
        "pump_20240101002000.csv",
    ]
    # per-component headers: each chunk carries only its own sensors
    with open(written[0]) as f:  # motor_...
        assert f.readline().strip() == "Timestamp,m1"
    pump_file = [p for p in written if "pump" in os.path.basename(p)][0]
    with open(pump_file) as f:
        assert f.readline().strip() == "Timestamp,p1,p2"


def test_labels_tags_timeranges_readers(spark, tmp_path):
    labels = tmp_path / "labels.csv"
    labels.write_text(
        "2024-01-01 00:00:00,2024-01-01 01:00:00\n"
        "2024-01-02 10:00:00,2024-01-02 12:00:00\n"
    )
    ldf = read_labels_csv(spark, str(labels))
    assert ldf.columns == ["start", "end"]
    assert ldf.count() == 2
    assert ldf.filter(F.col("start").isNull()).count() == 0

    tags = tmp_path / "tags.csv"
    tags.write_text("Tag,Subsystem\np1,pump\nm1,motor\n")
    tdf = read_tags_description(spark, str(tags))
    assert {r["Subsystem"] for r in tdf.collect()} == {"pump", "motor"}

    tr = tmp_path / "timeranges.txt"
    tr.write_text(
        "2024-01-01 00:00:00\n2024-01-15 00:00:00\n"
        "2024-01-15 00:00:00\n2024-01-30 00:00:00\n"
    )
    bounds = read_timeranges_txt(spark, str(tr))
    assert bounds["training_start"] == "2024-01-01 00:00:00"
    assert bounds["evaluation_end"] == "2024-01-30 00:00:00"


def test_inference_results_reader_and_pivot(spark, tmp_path):
    p = tmp_path / "results.jsonl"
    p.write_text(
        '{"timestamp": "2024-01-01 00:00:00", "prediction": 0}\n'
        '{"timestamp": "2024-01-01 00:05:00", "prediction": 1,'
        ' "anomaly_score": 0.91,'
        ' "diagnostics": [{"name": "pump\\\\p1", "value": 0.6},'
        ' {"name": "motor\\\\m1", "value": 0.4}]}\n'
    )
    df = read_inference_results(spark, str(p))
    assert df.count() == 2
    row = df.filter(F.col("prediction") == 1).collect()[0]
    assert abs(sum(d["value"] for d in row["diagnostics"]) - 1.0) < 1e-9
    wide = pivot_diagnostics(df)
    assert "pump\\p1" in wide.columns and "motor\\m1" in wide.columns
    assert wide.count() == 2


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """write_bucketed: two tables bucketed identically on the join key
    join with ZERO exchanges — the co-located-join layout for repeated
    big-to-big joins at scale.  (Sort-merge with no Exchange in the plan
    is the bucketing proof; an unbucketed join of the same frames pays
    two.)"""
    from amazon_lookout_for_equipment_python_sdk_spark.sources.sinks import (
        write_bucketed,
    )

    a = spark.range(0, 1000).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("v")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("user_id"), (F.col("id") % 3).alias("w")
    )
    write_bucketed(a, "t_bucket_a", "user_id", num_buckets=8, sort_cols="user_id")
    write_bucketed(b, "t_bucket_b", "user_id", num_buckets=8, sort_cols="user_id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # tiny test tables would auto-broadcast; at real scale both sides are
    # too big to broadcast and the bucketed shuffle-free join is the point
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_bucket_a").join(
            spark.table("t_bucket_b"), "user_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_partitioned_write_prunes_scan(spark, tmp_path):
    """write_partitioned: a filter on the partition column must prune at
    planning time — the scan's PartitionFilters carries the predicate and
    only the matching directory's files are read."""
    from amazon_lookout_for_equipment_python_sdk_spark.sources.sinks import (
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], f"doc {i}") for i in range(90)],
        "doc_id long, lang string, text string",
    )
    path = str(tmp_path / "part_docs")
    write_partitioned(df, path, "lang")
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("lang=")
    ) == ["lang=de", "lang=en", "lang=fr"]
    back = spark.read.parquet(path).filter("lang = 'de'")
    assert back.count() == 30
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # behavioral data-skipping proof: a corrupt file in lang=en must not
    # bother a lang=de query (it is never opened), but must break lang=en
    with open(os.path.join(path, "lang=en", "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    assert spark.read.parquet(path).filter("lang = 'de'").count() == 30
    try:
        spark.read.parquet(path).filter("lang = 'en'").count()
        raise AssertionError("corrupt partition unexpectedly readable")
    except AssertionError:
        raise
    except Exception:
        pass  # expected: the en partition's junk file IS opened


def test_orc_columnar_roundtrip_with_pushdown(spark, tmp_path):
    """write_columnar(orc) + read_columnar: exact round-trip, and the ORC
    scan pushes the row filter (PushedFilters) and prunes columns
    (ReadSchema lists only the projected subset) just like parquet."""
    from amazon_lookout_for_equipment_python_sdk_spark.sources.readers import (
        read_columnar,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.sources.sinks import (
        write_columnar,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}", float(i) / 7, ["en", "de"][i % 2]) for i in range(200)],
        "doc_id long, text string, score double, lang string",
    )
    path = str(tmp_path / "docs_orc")
    write_columnar(df, path, fmt="orc", partition_cols="lang")
    back = read_columnar(spark, path, fmt="orc")
    assert back.count() == 200
    assert {r.doc_id for r in back.collect()} == set(range(200))
    q = back.filter("doc_id >= 150").select("doc_id", "score")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "doc_id" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in rs, rs  # column pruning reached the ORC scan
    assert q.count() == 50
    import pytest

    with pytest.raises(ValueError):
        write_columnar(df, path, fmt="avro")


def test_compact_table_round_trip(spark, tmp_path):
    """Small-files compaction: 40 tiny files -> few files, identical rows."""
    from amazon_lookout_for_equipment_python_sdk_spark.sources.sinks import (
        compact_table,
    )

    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(path)
    before = spark.read.parquet(path)
    n_before = before.count()
    sum_before = before.agg(F.sum("v")).collect()[0][0]
    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40
    after = spark.read.parquet(path)
    assert after.count() == n_before
    assert after.agg(F.sum("v")).collect()[0][0] == sum_before == 10_000 * 9_999


def test_compact_table_recovers_from_crashed_swap(spark, tmp_path):
    """Crash between 'originals moved to .compact_bak' and 'compacted
    files moved in' leaves the table dir with no visible data; the next
    compact_table run must restore the backup and proceed, losing
    nothing."""
    import os
    import shutil

    from amazon_lookout_for_equipment_python_sdk_spark.sources.sinks import (
        compact_table,
    )

    path = str(tmp_path / "crashed")
    df = spark.range(5_000).withColumn("v", F.col("id") * 3)
    df.repartition(8).write.parquet(path)
    # simulate the mid-swap crash state
    bak = os.path.join(path, ".compact_bak")
    os.makedirs(bak)
    for name in os.listdir(path):
        if not name.startswith((".", "_")) and os.path.isfile(
            os.path.join(path, name)
        ):
            shutil.move(os.path.join(path, name), os.path.join(bak, name))
    stats = compact_table(spark, path, target_file_mb=128)
    assert stats["files_before"] == 8  # recovered originals were compacted
    after = spark.read.parquet(path)
    assert after.count() == 5_000
    assert after.agg(F.sum("v")).collect()[0][0] == 3 * 5_000 * 4_999 // 2
    assert not os.path.exists(bak)
