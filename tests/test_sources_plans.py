"""Multimodal plumbing and physical-plan assertions (pushdown / pruning —
SURVEY §4)."""

from __future__ import annotations

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


def test_parquet_pushdown_and_pruning(spark, corpus_dir):
    ev = spark.read.parquet(f"{corpus_dir}/events.parquet")
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
