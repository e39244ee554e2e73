"""Catalog (S11-S13) lifecycle and multimodal (north-star) operators."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark import schema as sch
from amazon_lookout_for_equipment_python_sdk_spark.operators import multimodal as mm
from amazon_lookout_for_equipment_python_sdk_spark.sources import Catalog


def _write_component_csvs(root, components, n_rows=10, first_minute=0):
    """Write the reference's per-component CSV directory layout
    (dataset.py:154-167): one dir per component, Timestamp first column,
    ``n_rows`` one-minute rows from ``first_minute``."""
    for comp, tags in components.items():
        d = os.path.join(root, comp)
        os.makedirs(d)
        with open(os.path.join(d, f"{comp}.csv"), "w") as f:
            f.write("Timestamp," + ",".join(tags) + "\n")
            for i in range(first_minute, first_minute + n_rows):
                vals = ",".join(str(float(i + j)) for j in range(len(tags)))
                f.write(f"2024-01-01T00:{i:02d}:00.000000,{vals}\n")


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "catalog"))


def test_catalog_create_ingest_load(catalog, tmp_path):
    csv_root = str(tmp_path / "csvs")
    comps = {"pump": ["p1", "p2"], "motor": ["m1"]}
    _write_component_csvs(csv_root, comps)
    schema_json = sch.create_data_schema(
        {c: ["Timestamp"] + tags for c, tags in comps.items()}
    )
    catalog.create_dataset("plant", schema_json)
    res = catalog.ingest_data("plant", csv_root)
    assert res["status"] == "SUCCESS"
    # 10 rows x (2 pump tags + 1 motor tag) in long layout
    assert res["rows_ingested"] == 30
    df = catalog.load_dataset("plant")
    assert set(df.columns) == {"ts", "tag", "value", "component"}
    assert df.select("component").distinct().count() == 2
    # partition pruning: component filter must prune to one dir
    plan = df.filter(F.col("component") == "pump")._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan


def test_catalog_ingest_from_uri_root(catalog, tmp_path):
    """S2 — ingest against a URI-schemed root: the file:// scheme resolves
    through the Hadoop FileSystem, the exact code path an s3a:// bucket
    takes on a cluster (reference ingests from S3, dataset.py:729-777)."""
    csv_root = str(tmp_path / "csvs_uri")
    comps = {"pump": ["p1", "p2"], "motor": ["m1"]}
    _write_component_csvs(csv_root, comps)
    schema_json = sch.create_data_schema(
        {c: ["Timestamp"] + tags for c, tags in comps.items()}
    )
    catalog.create_dataset("uriplant", schema_json)
    res = catalog.ingest_data("uriplant", f"file://{csv_root}")
    assert res["status"] == "SUCCESS"
    assert res["rows_ingested"] == 30
    df = catalog.load_dataset("uriplant")
    assert df.count() == 30
    # a missing component dir is still a descriptive error through the FS
    catalog.create_dataset("uriplant2", sch.create_data_schema(
        {"pump": ["Timestamp", "p1"], "fan": ["Timestamp", "f1"]}
    ))
    with pytest.raises(ValueError, match="missing CSV directory.*fan"):
        catalog.ingest_data("uriplant2", f"file://{csv_root}")


def test_catalog_ingest_date_partitioning(catalog, tmp_path):
    """partition_by_date: a time-range filter must prune date partitions
    at the scan (PartitionFilters on ts_date), not just row groups."""
    csv_root = str(tmp_path / "csvs2")
    d = os.path.join(csv_root, "pump")
    os.makedirs(d)
    with open(os.path.join(d, "pump.csv"), "w") as f:
        f.write("Timestamp,p1\n")
        for day in (1, 2, 3):
            for h in range(3):
                f.write(f"2024-01-{day:02d}T{h:02d}:00:00.000000,{float(h)}\n")
    schema_json = sch.create_data_schema({"pump": ["Timestamp", "p1"]})
    catalog.create_dataset("dated", schema_json)
    res = catalog.ingest_data("dated", csv_root, partition_by_date=True)
    assert res["rows_ingested"] == 9
    df = catalog.load_dataset("dated")
    assert "ts_date" in df.columns
    pruned = df.filter(F.col("ts_date") == "2024-01-02")
    plan = pruned._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan and "ts_date" in plan
    assert pruned.count() == 3


def test_catalog_ingest_append_mode(catalog, tmp_path):
    csv_root = str(tmp_path / "csvs3")
    _write_component_csvs(csv_root, {"pump": ["p1"]})
    schema_json = sch.create_data_schema({"pump": ["Timestamp", "p1"]})
    catalog.create_dataset("inc", schema_json)
    assert catalog.ingest_data("inc", csv_root)["rows_ingested"] == 10
    # append reports THIS job's rows, not the table's or the first job's:
    # the appended tree has a different row count
    more_root = str(tmp_path / "csvs3b")
    _write_component_csvs(more_root, {"pump": ["p1"]}, n_rows=4, first_minute=10)
    assert (
        catalog.ingest_data("inc", more_root, mode="append")["rows_ingested"]
        == 4
    )
    assert catalog.load_dataset("inc").count() == 14
    assert catalog.list_datasets(prefix="inc")[0][0]["rows"] == 14
    # an append into a dataset with no data yet counts from zero
    catalog.create_dataset("inc2", schema_json)
    assert (
        catalog.ingest_data("inc2", more_root, mode="append")["rows_ingested"]
        == 4
    )
    with pytest.raises(ValueError, match="mode"):
        catalog.ingest_data("inc", csv_root, mode="merge")


def test_catalog_listing_pagination(catalog):
    schema_json = sch.create_data_schema({"c": ["Timestamp", "t1"]})
    for name in ["a1", "a2", "a3", "b1"]:
        catalog.create_dataset(name, schema_json)
    page, token = catalog.list_datasets(prefix="a", max_results=2)
    assert [m["name"] for m in page] == ["a1", "a2"] and token == 2
    page2, token2 = catalog.list_datasets(prefix="a", max_results=2, next_token=token)
    assert [m["name"] for m in page2] == ["a3"] and token2 is None


def test_catalog_duplicate_and_missing(catalog):
    schema_json = sch.create_data_schema({"c": ["Timestamp", "t1"]})
    catalog.create_dataset("d", schema_json)
    with pytest.raises(ValueError, match="already exists"):
        catalog.create_dataset("d", schema_json)
    with pytest.raises(ValueError, match="does not exist"):
        catalog.load_dataset("nope")


def test_catalog_cascade_delete(catalog):
    schema_json = sch.create_data_schema({"c": ["Timestamp", "t1"]})
    catalog.create_dataset("d", schema_json)
    catalog.register_model("d", "m1", {"kind": "pca"})
    assert catalog.list_models("d") == ["m1"]
    with pytest.raises(ValueError, match="delete_children"):
        catalog.delete_dataset("d")
    catalog.delete_dataset("d", delete_children=True)
    assert catalog.list_datasets()[0] == []


def test_catalog_cascade_stops_running_scheduler(catalog, spark, tmp_path):
    """S13 full cascade (dataset.py:338-418): delete walks schedulers
    (stop -> delete) -> models -> dataset; without delete_children a live
    scheduler refuses the delete."""
    from amazon_lookout_for_equipment_python_sdk_spark.streaming import (
        InferenceScheduler,
        SchedulerConfig,
    )

    schema_json = sch.create_data_schema({"pump": ["Timestamp", "p1"]})
    catalog.create_dataset("d2", schema_json)
    catalog.register_model("d2", "m1", {"kind": "pca"})
    indir = tmp_path / "in"
    indir.mkdir()
    with open(indir / "pump_20240101100000.csv", "w") as f:
        f.write("Timestamp,p1\n2024-01-01T10:00:30.000000,1.0\n")
    cfg = SchedulerConfig(
        scheduler_name="cascade-sched",
        input_dir=str(indir),
        output_dir=str(tmp_path / "out"),
        components=["pump"],
        tags=["p1"],
    )
    sched = InferenceScheduler(
        spark,
        cfg,
        lambda b: b.select(
            F.col("Timestamp").alias("timestamp"), F.lit(0).alias("prediction")
        ),
    )
    sched.create()
    sched.start(available_now=True)
    catalog.attach_scheduler("d2", sched)
    assert len(catalog.list_schedulers("d2")) == 1
    with pytest.raises(ValueError, match="scheduler"):
        catalog.delete_dataset("d2")
    catalog.delete_dataset("d2", delete_children=True)
    assert cfg.status == "NOT_CREATED"  # stopped then deleted
    assert catalog.list_schedulers("d2") == []
    assert catalog.list_datasets()[0] == []


def _media_df(spark):
    rows = [
        (1, "image", bytes(range(64)), ("image/png", 8, 8, None)),
        (2, "image", b"\xff" * 32, ("image/png", 4, 8, None)),
        (3, "audio", b"\x01\x02\x03\x04" * 100, ("audio/wav", None, None, 2500)),
        (4, "video", b"\x00" * 16, ("video/mp4", 64, 48, 3500)),
        (5, "image", None, (None, None, None, None)),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_multimodal_extract_features(spark):
    out = mm.extract_features(_media_df(spark), dim=4).orderBy("media_id")
    rows = out.collect()
    assert [r.media_id for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0].n_bytes == 64
    assert len(rows[0].feature) == 4
    # deterministic: all-0xff payload -> all-1.0 features
    assert all(abs(v - 1.0) < 1e-6 for v in rows[1].feature)
    # null payload -> zero vector, 0 bytes
    assert rows[4].n_bytes == 0 and all(v == 0.0 for v in rows[4].feature)


def test_multimodal_compressed_formats_raise():
    # formats without an in-sandbox codec stay deployment hooks
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"GIF89a" + b"\x00" * 16)
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"ID3\x04" + b"\x00" * 16)
    # JPEG subset boundary: progressive (SOF2) is a documented seam
    import struct as st

    sof2 = (
        b"\xff\xd8"
        + st.pack(">HH", 0xFFC2, 8)
        + b"\x00" * 6
    )
    with pytest.raises(NotImplementedError):
        mm.decode_image(sof2)
    # PNG subset boundary: palette (color type 3) is a documented seam
    import struct as st

    ihdr = st.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    bad = mm.PNG_MAGIC + mm._png_chunk(b"IHDR", ihdr)
    with pytest.raises(NotImplementedError):
        mm.decode_image(bad)


def _bmp_bytes():
    import numpy as np

    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[:, :3] = [255, 0, 0]   # left half red
    img[:, 3:] = [0, 0, 255]   # right half blue
    return mm.encode_bmp(img), img


def _wav_bytes():
    import numpy as np

    t = np.arange(800)
    x = (np.sin(2 * np.pi * t / 40) * 16000).astype("<i2").reshape(-1, 1)
    return mm.encode_wav(x, 8000), x


def test_multimodal_real_codecs_roundtrip():
    import numpy as np

    bmp, img = _bmp_bytes()
    back = mm.decode_image(bmp)
    np.testing.assert_array_equal(back, img)
    # PPM decode
    ppm = b"P6\n6 4\n255\n" + img.tobytes()
    np.testing.assert_array_equal(mm.decode_image(ppm), img)
    # PPM spec permits '#' comment lines between any header tokens
    commented = (
        b"P6\n# made by a test\n6 4\n# maxval next\n255\n" + img.tobytes()
    )
    np.testing.assert_array_equal(mm.decode_image(commented), img)
    # nearest-neighbor resize halves dimensions, preserves the two colors
    small = mm.decode_image(mm.resize_image(bmp, 3, 2))
    assert small.shape == (2, 3, 3)
    assert (small[0, 0] == [255, 0, 0]).all() and (small[0, 2] == [0, 0, 255]).all()
    wav, x = _wav_bytes()
    samples, rate = mm.decode_audio(wav)
    assert rate == 8000
    np.testing.assert_array_equal(samples, x)


def test_multimodal_png_roundtrip_all_filters(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)
    for ft in range(5):  # every scanline filter exercises its unfilter
        png = mm.encode_png(img, filter_type=ft)
        np.testing.assert_array_equal(mm.decode_image(png), img, err_msg=f"filter {ft}")
    # grayscale (color 0) and RGBA (color 6) decode paths, filter-0 scanlines
    import struct as st
    import zlib

    gray = rng.integers(0, 256, size=(3, 5), dtype=np.uint8)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(3))
    png_g = (
        mm.PNG_MAGIC
        + mm._png_chunk(b"IHDR", st.pack(">IIBBBBB", 5, 3, 8, 0, 0, 0, 0))
        + mm._png_chunk(b"IDAT", zlib.compress(raw))
        + mm._png_chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(
        mm.decode_image(png_g), np.repeat(gray[:, :, None], 3, axis=2)
    )
    rgba = rng.integers(0, 256, size=(3, 5, 4), dtype=np.uint8)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    png_a = (
        mm.PNG_MAGIC
        + mm._png_chunk(b"IHDR", st.pack(">IIBBBBB", 5, 3, 8, 6, 0, 0, 0))
        + mm._png_chunk(b"IDAT", zlib.compress(raw))
        + mm._png_chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(mm.decode_image(png_a), rgba[:, :, :3])
    # media_features dispatches PNG into the real pixel path: half-red /
    # half-blue image -> mean R = 0.5 exactly (same invariant as the BMP test)
    flag = np.zeros((4, 6, 3), dtype=np.uint8)
    flag[:, :3] = [255, 0, 0]
    flag[:, 3:] = [0, 0, 255]
    rows = [(1, "image", mm.encode_png(flag), ("image/png", 6, 4, None))]
    feats = mm.media_features(
        spark.createDataFrame(rows, mm.MEDIA_SCHEMA), dim=8
    ).collect()[0].feature
    assert abs(feats[0] - 0.5) < 1e-6 and feats[1] == 0.0


def test_multimodal_jpeg_roundtrip_and_dispatch(spark):
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    # smooth gradient (JPEG-friendly): lossy round trip stays close
    y, x = np.mgrid[0:24, 0:40]
    img = np.stack(
        [(x * 5).clip(0, 255), (y * 9).clip(0, 255), ((x + y) * 3).clip(0, 255)],
        axis=2,
    ).astype(np.uint8)
    data = J.encode_jpeg(img, quality=90)
    assert len(data) < img.size  # actually compressed
    back = mm.decode_image(data)  # dispatch via magic bytes
    assert back.shape == img.shape
    err = np.abs(back.astype(int) - img.astype(int))
    assert err.mean() < 3.0, err.mean()
    # flat image survives exactly; odd dims crop back correctly
    flat = np.full((8, 8, 3), 130, np.uint8)
    np.testing.assert_array_equal(mm.decode_image(J.encode_jpeg(flat)), flat)
    odd = np.full((13, 21, 3), 64, np.uint8)
    assert mm.decode_image(J.encode_jpeg(odd)).shape == odd.shape
    # 4:2:2 / 4:2:0 chroma subsampling (what real-world JPEGs use): both
    # decode, errors grow modestly, odd dims survive the 16x16 MCU pad
    for ss in ("422", "420"):
        b = mm.decode_image(J.encode_jpeg(img, quality=90, subsampling=ss))
        assert b.shape == img.shape
        assert np.abs(b.astype(int) - img.astype(int)).mean() < 5.0, ss
    assert mm.decode_image(J.encode_jpeg(odd, 90, "420")).shape == odd.shape
    # media_features: a red/blue flag through JPEG keeps mean R ~0.5
    fl = np.zeros((8, 8, 3), dtype=np.uint8)
    fl[:, :4] = [255, 0, 0]
    fl[:, 4:] = [0, 0, 255]
    rows = [(1, "image", J.encode_jpeg(fl, 95), ("image/jpeg", 8, 8, None))]
    feats = mm.media_features(
        spark.createDataFrame(rows, mm.MEDIA_SCHEMA), dim=8
    ).collect()[0].feature
    assert abs(feats[0] - 0.5) < 0.05 and feats[1] < 0.05


def test_multimodal_media_features_dispatch(spark):
    """media_features uses real pixel/sample statistics for decodable
    payloads and the byte-stripe stub otherwise."""
    bmp, img = _bmp_bytes()
    wav, _ = _wav_bytes()
    rows = [
        (1, "image", bytes(bmp), ("image/bmp", 6, 4, None)),
        (2, "audio", bytes(wav), ("audio/wav", None, None, 100)),
        (3, "image", b"\xff" * 32, (None, None, None, None)),  # unknown magic
    ]
    out = {
        r.media_id: list(r.feature)
        for r in mm.media_features(
            spark.createDataFrame(rows, mm.MEDIA_SCHEMA), dim=8
        ).collect()
    }
    # image: mean R = half red -> 0.5, mean G = 0, mean B = 0.5
    assert abs(out[1][0] - 0.5) < 1e-6
    assert out[1][1] == 0.0
    assert abs(out[1][2] - 0.5) < 1e-6
    # audio: sine RMS ~ 16000/32768/sqrt(2) ~ 0.345 per stripe
    assert all(0.3 < v < 0.4 for v in out[2][:7]), out[2]
    # unknown magic falls back to the stub: all-0xff -> 1.0 stripes
    assert all(abs(v - 1.0) < 1e-6 for v in out[3])


def test_multimodal_frame_sample_plan(spark):
    plan = mm.frame_sample_plan(_media_df(spark), every_ms=1000)
    rows = plan.collect()
    # only the video row (3500ms) -> frames at 0,1000,2000,3000
    assert {r.media_id for r in rows} == {4}
    assert sorted(r.frame_ts_ms for r in rows) == [0, 1000, 2000, 3000]


def test_multimodal_y4m_video_roundtrip_and_frame_features(spark):
    import numpy as np

    # distinct flat frames -> exact round trip both chroma layouts
    frames = [np.full((16, 20, 3), v, np.uint8) for v in (10, 80, 160, 240)]
    for ch in ("444", "420"):
        back, fps = mm.decode_y4m(mm.encode_y4m(frames, fps=2, chroma=ch))
        assert fps == 2 and len(back) == 4
        for b, f in zip(back, frames):
            np.testing.assert_array_equal(b, f)
    # real frame sampling through Spark: 4 frames at 2 fps = 2000 ms;
    # every_ms=1000 samples ts 0 and 1000 -> frames[0], frames[2]
    payload = mm.encode_y4m(frames, fps=2)
    rows = [
        (7, "video", payload, ("video/x-y4m", 20, 16, 2000)),
        (8, "image", b"\xff" * 16, (None, None, None, None)),  # skipped
        (9, "video", b"junk", (None, None, None, None)),  # skipped, no crash
    ]
    out = sorted(
        mm.extract_video_frames(
            spark.createDataFrame(rows, mm.MEDIA_SCHEMA), every_ms=1000, dim=8
        ).collect(),
        key=lambda r: r["frame_ts_ms"],
    )
    assert [(r["media_id"], r["frame_ts_ms"]) for r in out] == [
        (7, 0), (7, 1000),
    ]
    # frame 0 is flat 10 -> mean ~10/255; frame 2 flat 160 -> ~160/255
    assert abs(out[0]["feature"][0] - 10 / 255) < 0.01
    assert abs(out[1]["feature"][0] - 160 / 255) < 0.01
    # std of a flat frame is ~0
    assert abs(out[0]["feature"][3]) < 1e-6


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker
    id; decoders must skip them rather than parse a bogus segment."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    img = np.full((8, 8, 3), 90, np.uint8)
    data = J.encode_jpeg(img, quality=90)
    # inject fill bytes before every marker after SOI (0xFFD8):
    # a marker is 0xFF followed by a non-0x00/non-0xFF id byte
    out = bytearray(data[:2])
    i = 2
    while i < len(data):
        if data[i] == 0xFF and i + 1 < len(data) and data[i + 1] not in (0, 0xFF):
            out += b"\xff\xff\xff"
        out.append(data[i])
        i += 1
    padded = bytes(out)
    assert len(padded) > len(data)
    np.testing.assert_array_equal(J.decode_jpeg(padded), J.decode_jpeg(data))


def test_ima_adpcm_roundtrip_and_dispatch():
    """IMA-ADPCM WAV (format tag 0x11): 4 bits/sample, ~4x smaller than
    PCM16, decodes through the same decode_audio dispatch.  Lossy codec,
    so the gate is SNR on a sine, not equality."""
    import numpy as np

    rate = 8000
    t = np.arange(4000) / rate
    mono = (12000 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)[:, None]
    stereo = np.hstack(
        [mono, (9000 * np.sin(2 * np.pi * 880 * t)).astype(np.int16)[:, None]]
    )
    for sig in (mono, stereo):
        data = mm.encode_wav_ima_adpcm(sig, rate)
        pcm = mm.encode_wav(sig, rate)
        assert len(data) < len(pcm) / 3.5  # really 4-bit compressed
        back, r = mm.decode_audio(data)
        assert r == rate and back.shape == sig.shape
        err = back.astype(np.float64) - sig.astype(np.float64)
        snr = 10 * np.log10((sig.astype(np.float64) ** 2).mean() / (err**2).mean())
        # measured ~24 dB for 440/880 Hz at 8 kHz (fast deltas); the gate
        # guards against a broken predictor (which lands near 0 dB)
        assert snr > 22.0, snr
    # audio_features runs on the compressed payload via the same dispatch
    f = mm.audio_features(mm.encode_wav_ima_adpcm(mono, rate))
    assert len(f) == 8 and all(np.isfinite(f))
    # MP3 stays a declared seam
    try:
        mm.decode_audio(b"ID3\x04" + b"\x00" * 16)
        raise AssertionError("expected NotImplementedError")
    except NotImplementedError:
        pass


def test_flac_lossless_roundtrip_and_dispatch():
    """FLAC (fixed-predictor subset): LOSSLESS — exact equality after the
    round trip, real compression on correlated signals, decode_audio
    dispatch on the fLaC magic; LPC stays the declared seam."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _flac as FL

    rng = np.random.default_rng(11)
    t = np.arange(9000) / 8000
    mono = (
        9000 * np.sin(2 * np.pi * 220 * t) + rng.normal(0, 40, len(t))
    ).astype(np.int16)[:, None]
    stereo = np.hstack(
        [mono, (6000 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)[:, None]]
    )
    for sig in (mono, stereo):
        data = FL.encode_flac(sig, 8000)
        back, rate = mm.decode_audio(data)  # dispatch via magic
        assert rate == 8000 and np.array_equal(back, sig)
        assert len(data) < sig.size * 2  # smaller than PCM16
    # edge blocks: constant, single-sample, shorter than max fixed order
    for sig in (
        np.zeros((5, 1), np.int16),
        np.full((1, 2), -3, np.int16),
        np.arange(7, dtype=np.int16).reshape(7, 1),
    ):
        assert np.array_equal(
            FL.decode_flac(FL.encode_flac(sig, 44100))[0], sig
        )
    # audio_features runs on FLAC payloads through the same dispatch
    f = mm.audio_features(FL.encode_flac(mono, 8000))
    assert len(f) == 8 and all(np.isfinite(f))


def test_flac_stereo_decorrelation():
    """Channel assignments 8-10: correlated stereo round-trips exactly AND
    compresses strictly better than independent channels (the side channel
    is near-silent); extreme-amplitude stereo exercises the 17-bit side
    channel (side = left - right spans [-65535, 65535])."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _flac as FL

    rng = np.random.default_rng(23)
    t = np.arange(12000) / 8000
    left = (
        12000 * np.sin(2 * np.pi * 330 * t) + rng.normal(0, 60, len(t))
    ).astype(np.int16)
    right = (left + rng.integers(-2, 3, len(t))).astype(np.int16)
    stereo = np.stack([left, right], axis=1)
    auto = FL.encode_flac(stereo, 8000)
    indep = FL.encode_flac(stereo, 8000, stereo_mode="independent")
    back, rate = FL.decode_flac(auto)
    assert rate == 8000 and np.array_equal(back, stereo)
    assert np.array_equal(FL.decode_flac(indep)[0], stereo)
    assert len(auto) < 0.7 * len(indep)  # decorrelation actually engaged
    # 17-bit side-channel extremes: int16 min/max opposition
    ext = np.array(
        [[-32768, 32767]] * 40 + [[32767, -32768]] * 40, dtype=np.int16
    )
    assert np.array_equal(FL.decode_flac(FL.encode_flac(ext, 8000))[0], ext)
    # anti-correlated channels must NOT be forced into decorrelation:
    # auto still round-trips (selection may pick any assignment)
    anti = np.stack([left, (-left.astype(np.int32) // 2).astype(np.int16)], axis=1)
    assert np.array_equal(FL.decode_flac(FL.encode_flac(anti, 8000))[0], anti)
    # odd/even (l+r) parity recovery through the mid channel
    par = np.array([[5, 2], [5, 3], [-7, 4], [-7, 5]] * 30, dtype=np.int16)
    assert np.array_equal(FL.decode_flac(FL.encode_flac(par, 8000))[0], par)


def test_flac_lpc_predictors():
    """LPC subframes: a tonal signal compresses strictly better with LPC
    than with fixed predictors only, stays bit-exact through the round
    trip, and the decoder handles encoder-emitted LPC subframes (orders
    2-8, 15-bit coefficients, arithmetic-shift reconstruction)."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _flac as FL

    rng = np.random.default_rng(31)
    t = np.arange(16000) / 8000
    sine = (15000 * np.sin(2 * np.pi * 220 * t)).astype(np.int16)[:, None]
    lpc = FL.encode_flac(sine, 8000)
    fixed_only = FL.encode_flac(sine, 8000, use_lpc=False)
    assert np.array_equal(FL.decode_flac(lpc)[0], sine)
    assert len(lpc) < 0.9 * len(fixed_only)  # LPC actually engaged + won
    # LPC + stereo decorrelation compose; noisy content stays lossless
    noisy = (sine[:, 0] + rng.normal(0, 300, len(t))).astype(np.int16)
    stereo = np.stack(
        [noisy, (noisy + rng.integers(-3, 4, len(t))).astype(np.int16)],
        axis=1,
    )
    assert np.array_equal(
        FL.decode_flac(FL.encode_flac(stereo, 8000))[0], stereo
    )
    # degenerate inputs never pick an unstable fit (constant, ramp, tiny)
    for sig in (
        np.zeros((300, 1), np.int16),
        np.arange(300, dtype=np.int16).reshape(-1, 1),
        np.array([[5], [9]], np.int16),
    ):
        assert np.array_equal(
            FL.decode_flac(FL.encode_flac(sig, 8000))[0], sig
        )


def test_jpeg_progressive_matches_baseline():
    """Progressive (SOF2) encode->decode is bit-identical to the baseline
    round-trip at every chroma subsampling: the 10-scan script transports
    exactly the same quantized coefficients, and the per-scan optimized
    Huffman tables make the file SMALLER than baseline (as libjpeg's
    two-pass does)."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    rng = np.random.default_rng(11)
    h, w = 41, 53  # non-multiples of the MCU: exercises edge padding
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            (xx * 255 // w).astype(np.uint8),
            (yy * 255 // h).astype(np.uint8),
            np.full((h, w), 128, np.uint8),
        ],
        axis=2,
    )
    img[10:20, 10:30] = [200, 40, 90]
    img[25:35, 30:50, 0] = rng.integers(0, 255, (10, 20))
    for sub in ("444", "422", "420"):
        base = J.encode_jpeg(img, 85, sub)
        prog = J.encode_jpeg(img, 85, sub, progressive=True)
        assert prog[4:6] != base[4:6] or True  # both parse independently
        np.testing.assert_array_equal(J.decode_jpeg(prog), J.decode_jpeg(base))
        assert len(prog) < len(base)  # optimized tables beat Annex K fixed


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn: restart markers every 2 MCUs decode to exactly the same
    pixels as the marker-free stream (predictors reset, reader realigns)."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    rng = np.random.default_rng(3)
    img = rng.integers(0, 255, (24, 40, 3)).astype(np.uint8)
    for sub in ("444", "420"):
        plain = J.decode_jpeg(J.encode_jpeg(img, 90, sub))
        with_rst = J.decode_jpeg(J.encode_jpeg(img, 90, sub, restart_interval=2))
        np.testing.assert_array_equal(plain, with_rst)
    data = J.encode_jpeg(img, 90, "444", restart_interval=2)
    assert any(
        data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7
        for i in range(2, len(data) - 1)
    )  # markers actually present


def test_jpeg_ac_refinement_fuzz():
    """Progressive AC scan pair (first + successive refinements) round-
    trips arbitrary coefficient blocks — EOBRUN, ZRL-with-corrections,
    newly-significant insertion and multi-level refinement all hit."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.operators import _jpeg as J

    rng = np.random.default_rng(5)

    def enc(blocks, mode, ss, se, al):
        counter = J._ScanSink()
        st = J._ProgState(counter)
        f = J._enc_ac_first if mode == "first" else J._enc_ac_refine
        for zz in blocks:
            f(st, zz, ss, se, al)
        st.flush_eob()
        bits, vals = J._optimal_huffman(counter.freq)
        sink = J._ScanSink(J._canonical_codes(bits, vals))
        st = J._ProgState(sink)
        for zz in blocks:
            f(st, zz, ss, se, al)
        st.flush_eob()
        sink.w.flush()
        return bytes(sink.w.out) + b"\xff\xd9", J._decode_table(bits, vals)

    for _ in range(60):
        nb = int(rng.integers(1, 6))
        blocks = []
        for _b in range(nb):
            zz = np.zeros(64, dtype=np.int64)
            nnz = int(rng.integers(0, 30))
            if nnz:
                idx = rng.choice(np.arange(1, 64), size=nnz, replace=False)
                zz[idx] = rng.integers(-200, 201, size=nnz)
            blocks.append(zz)
        dec = [np.zeros(64, dtype=np.int64) for _ in blocks]
        for mode, al in [("first", 3), ("refine", 2), ("refine", 1), ("refine", 0)]:
            stream, tab = enc(blocks, mode, 1, 63, al)
            reader = J._BitReader(stream, 0)
            eobrun = 0
            f = J._dec_ac_first if mode == "first" else J._dec_ac_refine
            for blk in dec:
                eobrun = f(reader, tab, blk, 1, 63, al, eobrun)
        for zz, d in zip(blocks, dec):
            np.testing.assert_array_equal(zz[1:], d[1:])


def test_decoders_fail_closed_on_fuzzed_bytes():
    """Robustness gate: corrupt/truncated payloads must raise a clean
    exception (or decode) — never hang, never return garbage shapes.
    The corpus-scale wrappers (image_hashes, media_features) rely on
    this to map one bad file to a NULL instead of a dead executor."""
    import random

    import numpy as np

    rng = random.Random(99)
    real = {
        b"BM": mm.encode_bmp(np.zeros((8, 8, 3), np.uint8)),
        b"P6": b"P6 8 8 255\n" + bytes(8 * 8 * 3),
        b"\x89P": mm.encode_png(np.zeros((8, 8, 3), np.uint8)),
        b"\xff\xd8": None,  # pure fuzz for JPEG
    }
    payloads = []
    for magic, good in real.items():
        for _ in range(40):
            if good and rng.random() < 0.5:
                b = bytearray(good)
                # random truncation + byte flips
                del b[rng.randrange(1, len(b)) :]
                for _ in range(3):
                    if b:
                        b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
                payloads.append(bytes(b))
            else:
                payloads.append(
                    bytes(magic)
                    + bytes(rng.randrange(256) for _ in range(rng.randrange(200)))
                )
    for p in payloads:
        try:
            img = mm.decode_image(p)
            assert img.ndim == 3 and img.shape[2] == 3  # decoded -> sane
        except Exception:
            pass  # clean failure is the contract
    # audio: fuzzed RIFF containers
    for _ in range(60):
        p = b"RIFF" + bytes(rng.randrange(256) for _ in range(rng.randrange(300)))
        try:
            samples, rate = mm.decode_audio(p)
            assert samples.ndim == 2 and rate > 0
        except Exception:
            pass
