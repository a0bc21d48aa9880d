"""CSV sources, multimodal plumbing, and physical-plan assertions
(pushdown / pruning / broadcast — SURVEY §4)."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from pyanomalydetector2_spark.operators.multimodal import (
    audio_features,
    image_metadata,
    sample_frames,
)
from pyanomalydetector2_spark.plans import (
    assert_pushed_filters,
    assert_read_schema_only,
)
from pyanomalydetector2_spark.sources.csv_source import (
    export_gzip_csv,
    read_history_csv,
    read_items_csv,
    trends_as_value,
)

SF = "/root/testdata/sf0.01"


def test_history_csv_roundtrip_with_malformed_rows(spark, tmp_path):
    p = str(tmp_path / "history.csv.gz")
    with gzip.open(p, "wt") as f:
        f.write("itemid,clock,value\n")
        f.write("1,100,1.5\n")
        f.write("itemid,clock,value\n")  # repeated header mid-file
        f.write("2,200,2.5\n")
        f.write("garbage,not_a_number,x\n")  # malformed
        f.write("3,300,3.5\n")
    df = read_history_csv(spark, p, startep=100, endep=250)
    rows = {(r.itemid, r.clock, r.value) for r in df.collect()}
    assert rows == {(1, 100, 1.5), (2, 200, 2.5)}


def test_csv_drop_is_projection_independent(spark, tmp_path):
    """A row with ONE bad column must be dropped for every projection:
    DROPMALFORMED only dropped it when the bad column was read, so
    count() and value-queries over the same source disagreed."""
    p = str(tmp_path / "h.csv")
    with open(p, "w") as f:
        f.write("itemid,clock,value\n")
        f.write("1,100,1.5\n")
        f.write("5,400,abc\n")  # bad value, good itemid/clock
        f.write("3,300,3.5\n")
    df = read_history_csv(spark, p)
    assert df.count() == 2  # narrow projection drops the row too
    assert df.select("itemid").count() == 2
    assert {r.itemid for r in df.collect()} == {1, 3}


def test_trends_csv_reader_filters(spark, tmp_path):
    """S2 reader: explicit keyword filters (startep/endep/item_ids) — a
    typo'd keyword now raises instead of silently not filtering."""
    import pytest

    from pyanomalydetector2_spark.sources.csv_source import read_trends_csv

    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("itemid,clock,value_min,value_avg,value_max\n")
        f.write("1,100,0.5,1.0,1.5\n")
        f.write("1,200,0.6,1.1,1.6\n")
        f.write("2,200,0.7,1.2,1.7\n")
        f.write("bad,row,x,y,z\n")
    df = read_trends_csv(spark, p, startep=150, item_ids=[1])
    rows = [(r.itemid, r.clock, r.value_avg) for r in df.collect()]
    assert rows == [(1, 200, 1.1)]
    with pytest.raises(TypeError):
        read_trends_csv(spark, p, startp=150)  # typo must fail loudly


def test_trends_partial_rows_fill_zero_items_keep_all(spark, tmp_path):
    """Per-feed strictness matches the reference (ADVICE r02 #1): trends
    rows with null value columns are KEPT with fillna(0) (reference
    get_trends_full_data); items drops nothing beyond an unparsable key;
    only history has whole-row strictness."""
    from pyanomalydetector2_spark.sources.csv_source import (
        read_items_csv,
        read_trends_csv,
    )

    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("itemid,clock,value_min,value_avg,value_max\n")
        f.write("1,100,0.5,1.0,1.5\n")
        f.write("2,100,,,\n")        # partial → kept, values filled to 0
        f.write("bad,row,x,y,z\n")   # unparsable key → dropped
    rows = {
        r.itemid: (r.value_min, r.value_avg, r.value_max)
        for r in read_trends_csv(spark, p).collect()
    }
    assert rows == {1: (0.5, 1.0, 1.5), 2: (0.0, 0.0, 0.0)}

    pi = str(tmp_path / "i.csv")
    with open(pi, "w") as f:
        f.write("group_name,hostid,host_name,itemid,item_name\n")
        f.write("g1,1,h1,10,cpu\n")
        f.write(",,,11,\n")          # null dims → kept (reference drops nothing)
        f.write("g2,2,h2,oops,mem\n")  # unparsable itemid → dropped
    items = {r.itemid for r in read_items_csv(spark, pi).collect()}
    assert items == {10, 11}


def test_export_reimport(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, 100, 0.5), (2, 200, 1.5)], "itemid long, clock long, value double"
    )
    out = str(tmp_path / "exp")
    export_gzip_csv(src, out)
    assert any(f.endswith(".csv.gz") for f in os.listdir(out))
    back = read_history_csv(spark, out)
    assert back.count() == 2


def test_trends_projection(spark):
    t = spark.createDataFrame(
        [(1, 100, 0.0, 5.0, 9.0)],
        "itemid long, clock long, value_min double, value_avg double, value_max double",
    )
    row = trends_as_value(t).first()
    assert row.value == 5.0 and row.itemid == 1


def test_parquet_pushdown_and_pruning(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter(F.col("user_id") == 7).select("user_id", "value")
    assert_pushed_filters(q, "user_id")
    assert_read_schema_only(q, "user_id", "value")


def test_audio_features_real_pcm(spark):
    from pyanomalydetector2_spark.datagen.clips import clips_table

    clips = clips_table(spark, 200, planted=False)
    feats = audio_features(clips).toPandas()
    assert len(feats) == 200
    ok = feats[feats.n_samples > 0]
    assert len(ok) == 200
    # sine at amp 26000: rms ≈ amp/√2 within quantization error
    assert ((ok.rms > 15000) & (ok.rms < 22000)).all()
    assert (ok.peak <= 26001).all()
    assert (ok.zero_cross_rate > 0).all()


def test_image_and_frame_stub_plumbing(spark):
    imgs = spark.createDataFrame(
        [("i1", bytes([10, 20, 30, 40] * 300)), ("i2", None)],
        "img_id string, bytes binary",
    )
    meta = {r.img_id: r for r in image_metadata(imgs).collect()}
    assert meta["i1"].ok and meta["i1"].width >= 64
    assert not meta["i2"].ok

    vids = spark.createDataFrame(
        [("v1", bytes(range(256)) * 25)], "vid_id string, bytes binary"
    )
    fr = sample_frames(vids, every_n=10).collect()
    assert [r.frame_idx for r in fr] == [0, 10, 20]
    assert all(len(r.frame_bytes) == 256 for r in fr)


def test_resize_real_math_over_stub_decode(spark):
    import numpy as np

    from pyanomalydetector2_spark.operators.multimodal import (
        fake_decode_array,
        fake_image_meta,
        resize_images,
        resize_nearest,
    )

    # the resize kernel itself is REAL: pin it against a hand-computed case
    img = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    out = resize_nearest(img, 2, 2)
    assert out[:, :, 0].tolist() == [[0, 2], [8, 10]]

    payload = bytes([10, 20, 30, 40] * 300)
    imgs = spark.createDataFrame(
        [("i1", payload), ("i2", None)], "img_id string, bytes binary"
    )
    rows = {r.img_id: r for r in resize_images(imgs, 32, 32).collect()}
    r1 = rows["i1"]
    assert (r1.width, r1.height) == (32, 32)
    assert len(r1.pixels) == 32 * 32 * r1.channels  # fixed collator shape
    # distributed output equals the local oracle exactly
    w, h, c = fake_image_meta(payload)
    exp = resize_nearest(fake_decode_array(payload, w, h, c), 32, 32)
    assert r1.pixels == exp.tobytes()
    assert rows["i2"].pixels is None
