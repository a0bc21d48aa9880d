"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` kernels.

Decode reality map:
- audio: REAL for pcm_s16le, WAV/RIFF, G.711 (operators/audio.py, g711.py)
  and FLAC (operators/flac_codec.py, lossless with CRC/MD5 verification);
  opus/mp3 have REAL container walks (ogg_opus.py, mp3_frames.py) around
  the declared-fake codec payload;
- image: REAL for 24-bit BMP, 8-bit PNG (operators/image_codec.py) and
  baseline/extended-sequential/PROGRESSIVE JPEG (operators/jpeg_codec.py,
  interop proven both ways vs javax.imageio incl. its progressive
  writer) — all stdlib+numpy, no codec libraries needed; the remaining
  container (WebP) falls back to the deterministic fake, clearly
  separated by container magic, so tests can pin both paths;
- video: REAL for uncompressed AVI (operators/video_codec.py); h264-class
  codecs remain STUBBED behind a deterministic fake (no pyav/ffmpeg in
  this container) — the Spark-side plumbing (schemas, batch iteration,
  column pruning, 1→N fan-out shapes) is real and tested, and each
  ``*_kernel`` function is the single seam where a real library plugs in.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pyanomalydetector2_spark.operators.image_codec import (
    UnsupportedImageError,
    decode_image,
    image_header,
)

AUDIO_FEATURE_SCHEMA = (
    "clip_id string, rms double, peak double, zero_cross_rate double, "
    "n_samples int"
)

IMAGE_META_SCHEMA = "img_id string, width int, height int, channels int, ok boolean"

FRAME_SAMPLE_SCHEMA = "vid_id string, frame_idx int, frame_bytes binary"


# --------------------------------------------------------------- kernels --
def fake_image_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: derive (w, h, c) from the payload header —
    stands in for reading the real image header."""
    if payload is None or len(payload) < 4:
        return (0, 0, 0)
    return (64 + payload[0] % 64, 64 + payload[1] % 64, 1 + payload[2] % 4)


def _image_meta(payload: bytes) -> tuple[int, int, int]:
    """Real header parse when the container magic is recognized, else the
    deterministic fake (synthetic opaque payloads)."""
    try:
        return image_header(payload)
    except UnsupportedImageError:
        return fake_image_meta(payload)


# ------------------------------------------------------------ operators ---
def audio_features(clips: DataFrame) -> DataFrame:
    """REAL feature extraction over decoded PCM: RMS energy, peak, zero
    crossing rate. One Arrow batch per partition chunk; only (clip_id,
    bytes, codec) are read (column pruning keeps the rest out)."""
    from pyanomalydetector2_spark.operators.audio import decode_pcm_batch

    def extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for cid, payload, codec in zip(
                pdf["clip_id"], pdf["bytes"], pdf["codec"]
            ):
                dec = decode_pcm_batch(payload, codec)
                if dec is None or len(dec) == 0:
                    out.append((cid, None, None, None, 0))
                    continue
                rms = float(np.sqrt(np.mean(dec * dec)))
                peak = float(np.max(np.abs(dec)))
                zc = float(np.mean(np.abs(np.diff(np.sign(dec))) > 0))
                out.append((cid, rms, peak, zc, len(dec)))
            yield pd.DataFrame(
                out,
                columns=["clip_id", "rms", "peak", "zero_cross_rate", "n_samples"],
            )

    return clips.select("clip_id", "bytes", "codec").mapInPandas(
        extract, schema=AUDIO_FEATURE_SCHEMA
    )


AUDIO_CONTAINER_SCHEMA = (
    "clip_id string, container string, channels int, sample_rate int, "
    "n_units int, payload_bytes long, ok boolean"
)


from pyanomalydetector2_spark.operators.audio import wav_header_info
from pyanomalydetector2_spark.operators.flac_codec import (
    FLAC_MAGIC,
    FlacError,
    flac_stream_info,
)
from pyanomalydetector2_spark.operators.mp3_frames import Mp3Error, mp3_info
from pyanomalydetector2_spark.operators.ogg_opus import OggError, ogg_opus_info


def _container_probe(payload, codec) -> tuple:
    """(container, channels, sample_rate, n_units, payload_bytes, ok) for
    one clip — real container walks only, ok=False on anything
    unparseable. ``payload_bytes`` is len(payload) for EVERY container
    (one semantics across codecs); ``n_units`` is format-natural (FLAC →
    declared samples, Ogg → audio packets, MPEG → frames, WAV → samples
    per the fmt block align). Imports are module-level — this runs once
    per row in the 10^12-clip tier, no per-call import machinery."""
    try:
        if payload is None:
            pass
        elif payload[:4] == FLAC_MAGIC:
            i = flac_stream_info(bytes(payload))
            return ("flac", i["channels"], i["rate"], i["total_samples"],
                    len(payload), True)
        elif payload[:4] == b"OggS":
            i = ogg_opus_info(bytes(payload))
            return ("ogg-opus", i["channels"], i["input_sample_rate"],
                    i["n_audio_packets"], len(payload), True)
        elif payload[:4] == b"RIFF":
            w = wav_header_info(bytes(payload))
            if w is not None:
                return ("wav", w["channels"], w["sample_rate"],
                        w["n_samples"], len(payload), True)
        elif codec == "mp3":
            i = mp3_info(bytes(payload))
            return ("mpeg", None, i["sample_rate"], i["n_frames"],
                    len(payload), True)
        elif codec == "pcm_s16le" and len(payload) >= 2:
            return ("raw-pcm", 1, None, len(payload) // 2, len(payload), True)
    except (FlacError, OggError, Mp3Error, ValueError):
        pass
    return (None, None, None, None, None, False)


def with_container_meta(clips: DataFrame) -> DataFrame:
    """Attach (container, container_ok) via the real container walks — the
    cheap NO-DECODE validation tier a RowCheck(requires_container=True)
    consumes. Keeps the ``bytes`` column (the audio-invariant pass may
    still need it downstream)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    ctype = T.StructType(
        [
            T.StructField("container", T.StringType()),
            T.StructField("container_ok", T.BooleanType()),
        ]
    )

    @pandas_udf(ctype)
    def probe(payload: pd.Series, codec: pd.Series) -> pd.DataFrame:
        data = [
            (r[0], r[5])
            for r in (_container_probe(p, c) for p, c in zip(payload, codec))
        ]
        return pd.DataFrame(data, columns=["container", "container_ok"])

    from pyspark.sql import functions as F

    return (
        clips.withColumn("_cont", probe(F.col("bytes"), F.col("codec")))
        .withColumn("container", F.col("_cont.container"))
        .withColumn("container_ok", F.col("_cont.container_ok"))
        .drop("_cont")
    )


def _consistency_probe(payload, codec) -> tuple:
    """(container, container_sr, samples, samples_rate, ok) for the
    declared-vs-container cross-field check. ``samples`` is a duration
    count measured at ``samples_rate`` Hz: FLAC STREAMINFO total_samples @
    STREAMINFO rate, WAV data/block_align @ fmt rate, Ogg-Opus granule
    duration @ 48 kHz (the granule clock the container mandates), MPEG
    summed frame samples @ the frame sample_rate, raw PCM/G.711 byte
    counts @ None (raw streams carry no rate — the caller falls back to
    the declared sr_hz, which still catches truncated/padded payloads).
    Unlike ``_container_probe`` this accepts headerless raw G.711
    (1 byte/sample by construction) — a consistency check on a raw stream
    is exactly the check that catches a wrong-length blob."""
    try:
        if payload is None:
            pass
        elif payload[:4] == FLAC_MAGIC:
            i = flac_stream_info(bytes(payload))
            return ("flac", i["rate"], i["total_samples"], i["rate"], True)
        elif payload[:4] == b"OggS":
            i = ogg_opus_info(bytes(payload))
            return ("ogg-opus", i["input_sample_rate"], i["duration_48k"],
                    48000, True)
        elif payload[:4] == b"RIFF":
            w = wav_header_info(bytes(payload))
            if w is not None:
                return ("wav", w["sample_rate"], w["n_samples"],
                        w["sample_rate"], True)
        elif codec == "mp3":
            i = mp3_info(bytes(payload))
            return ("mpeg", i["sample_rate"], i["total_samples"],
                    i["sample_rate"], True)
        elif codec == "pcm_s16le" and len(payload) >= 2:
            return ("raw-pcm", None, len(payload) // 2, None, True)
        elif codec in ("pcm_mulaw", "pcm_alaw") and len(payload) >= 1:
            return ("raw-g711", None, len(payload), None, True)
    except (FlacError, OggError, Mp3Error, ValueError):
        pass
    return (None, None, None, None, False)


def with_consistency_fields(
    clips: DataFrame,
    dur_col: str = "dur_ms",
    sr_col: str = "sr_hz",
    dur_tol_ms: int = 50,
) -> DataFrame:
    """Attach declared-vs-container consistency columns — the cheapest
    REAL audio check a 10^12-clip suite runs, because it never decodes a
    sample: container headers are parsed once per row (Arrow-batched) and
    every comparison is JVM-side integer arithmetic.

    Added columns:
      container           parsed container kind (None if unparseable)
      container_probe_ok  the walk itself succeeded
      container_sr        sample rate the container declares (None for raw)
      container_samples   duration count @ ``_samples_rate`` (see probe)
      container_dur_ms    floor(samples·1000 / coalesce(rate, declared sr))
      container_dur_ok    |declared − derived| ≤ dur_tol_ms (vacuous True
                          when the duration is underivable)
      container_sr_ok     declared sr_hz equals the container rate
                          (vacuous True when the container carries none)

    The two *_ok columns are deliberately vacuous-True on missing
    evidence so the row checks compose with ``container_probe_ok`` rather
    than double-reporting an unparseable payload."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    ctype = T.StructType(
        [
            T.StructField("container", T.StringType()),
            T.StructField("container_sr", T.IntegerType()),
            T.StructField("container_samples", T.LongType()),
            T.StructField("_samples_rate", T.IntegerType()),
            T.StructField("container_probe_ok", T.BooleanType()),
        ]
    )

    @pandas_udf(ctype)
    def probe(payload: pd.Series, codec: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_consistency_probe(p, c) for p, c in zip(payload, codec)],
            columns=["container", "container_sr", "container_samples",
                     "_samples_rate", "container_probe_ok"],
        )

    rate = F.coalesce(F.col("_samples_rate"), F.col(sr_col))
    dur = F.floor(
        F.col("container_samples") * F.lit(1000) / rate
    ).cast("long")
    out = (
        clips.withColumn("_cons", probe(F.col("bytes"), F.col("codec")))
        .select("*", "_cons.*")
        .drop("_cons")
        .withColumn("container_dur_ms", dur)
        .withColumn(
            "container_dur_ok",
            F.when(
                F.col("container_dur_ms").isNotNull(),
                F.abs(F.col(dur_col) - F.col("container_dur_ms"))
                <= F.lit(int(dur_tol_ms)),
            ).otherwise(F.lit(True)),
        )
        .withColumn(
            "container_sr_ok",
            F.when(
                F.col("container_sr").isNotNull(),
                F.col("container_sr") == F.col(sr_col),
            ).otherwise(F.lit(True)),
        )
        .drop("_samples_rate")
    )
    return out


def audio_container_consistency(
    clips: DataFrame,
    dur_col: str = "dur_ms",
    sr_col: str = "sr_hz",
    dur_tol_ms: int = 50,
) -> DataFrame:
    """Per-clip declared-vs-container verdict frame: does the metadata a
    producer WROTE (dur_ms, sr_hz) match what the payload's own container
    header says? The audio-native analog of the reference's cross-table
    sanity joins (pyAnomalyDetector2 trusts its loaders; a 10^12-clip lake
    cannot). Violations here are the classic silent corruptions: truncated
    blobs, resampled audio with stale metadata, wrong-codec rows."""
    from pyspark.sql import functions as F

    return with_consistency_fields(
        clips, dur_col=dur_col, sr_col=sr_col, dur_tol_ms=dur_tol_ms
    ).select(
        "clip_id",
        "container",
        "container_sr",
        "container_samples",
        "container_dur_ms",
        F.col("container_dur_ok").cast("int").alias("dur_ok"),
        F.col("container_sr_ok").cast("int").alias("sr_ok"),
    )


def audio_container_meta(clips: DataFrame) -> DataFrame:
    """REAL no-decode container metadata over the clips table — the
    validation pass a 10^12-clip suite runs without touching sample data:
    FLAC STREAMINFO, Ogg-Opus page walk (CRC-verified) + OpusHead, MPEG
    frame walk, RIFF/WAVE fmt. ``n_units`` is format-natural (FLAC frames
    → total samples, Ogg → audio packets, MPEG → frames, WAV → data
    bytes/2). Unparseable/unknown payloads report ok=false rather than
    failing the batch."""

    def meta(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (cid, *_container_probe(payload, codec))
                for cid, payload, codec in zip(
                    pdf["clip_id"], pdf["bytes"], pdf["codec"]
                )
            ]
            yield pd.DataFrame(
                rows,
                columns=["clip_id", "container", "channels", "sample_rate",
                         "n_units", "payload_bytes", "ok"],
            )

    return clips.select("clip_id", "bytes", "codec").mapInPandas(
        meta, schema=AUDIO_CONTAINER_SCHEMA
    )


def image_metadata(images: DataFrame, id_col: str = "img_id", bytes_col: str = "bytes") -> DataFrame:
    """Image metadata extraction: REAL header parse for BMP/PNG containers
    (image_codec), deterministic fake for unrecognized/opaque payloads."""

    def meta(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid, payload in zip(pdf[id_col], pdf[bytes_col]):
                w, h, c = _image_meta(payload)
                rows.append((iid, w, h, c, w > 0))
            yield pd.DataFrame(
                rows, columns=["img_id", "width", "height", "channels", "ok"]
            )

    return images.select(
        images[id_col].alias(id_col), images[bytes_col].alias(bytes_col)
    ).mapInPandas(meta, schema=IMAGE_META_SCHEMA)


RESIZED_SCHEMA = (
    "img_id string, width int, height int, channels int, pixels binary"
)


def fake_decode_array(payload: bytes, w: int, h: int, c: int) -> np.ndarray:
    """Deterministic fake pixel decode: tile the payload bytes into (h, w, c)
    uint8 — stands in for a real decoder; everything downstream of this
    call is real array math."""
    buf = np.frombuffer(payload, dtype=np.uint8)
    need = h * w * c
    reps = need // max(len(buf), 1) + 1
    return np.tile(buf, reps)[:need].reshape(h, w, c)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """REAL nearest-neighbor resize (pure numpy index math — no codec
    dependency): output pixel (i, j) samples input (⌊i·h/out_h⌋, ⌊j·w/out_w⌋)."""
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h // out_h).astype(np.int64)
    ci = (np.arange(out_w) * w // out_w).astype(np.int64)
    return img[ri][:, ci]


def resize_images(
    images: DataFrame,
    out_h: int = 32,
    out_w: int = 32,
    id_col: str = "img_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Image resize: REAL decode for BMP/PNG containers + REAL
    nearest-neighbor resize; unrecognized payloads go through the
    deterministic fake decode (the declared PIL/libjpeg seam). Emits
    fixed-shape (out_h × out_w × c) pixel buffers ready for a
    training-batch collator."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid, payload in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    img = decode_image(payload)
                    h, w, c = img.shape
                except UnsupportedImageError:
                    w, h, c = fake_image_meta(payload)
                    if w == 0:
                        rows.append((iid, 0, 0, 0, None))
                        continue
                    img = fake_decode_array(payload, w, h, c)
                small = resize_nearest(img, out_h, out_w)
                rows.append((iid, out_w, out_h, c, small.tobytes()))
            yield pd.DataFrame(
                rows, columns=["img_id", "width", "height", "channels", "pixels"]
            )

    return images.select(
        images[id_col].alias(id_col), images[bytes_col].alias(bytes_col)
    ).mapInPandas(kernel, schema=RESIZED_SCHEMA)


def sample_frames(
    videos: DataFrame,
    every_n: int = 10,
    id_col: str = "vid_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Video frame sampling: REAL decode for uncompressed AVI containers
    (operators/video_codec.py — RIFF walker + DIB frames, stdlib-only) —
    every Nth frame's RGB pixel buffer; unrecognized containers fall back
    to the fixed-size byte-slice fake (the declared pyav/ffmpeg seam).
    Either way this demonstrates the 1→N row fan-out shape of frame
    sampling under mapInPandas."""
    from pyanomalydetector2_spark.operators.video_codec import (
        UnsupportedVideoError,
        parse_avi,
    )

    frame_sz = 256

    def frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for vid, payload in zip(pdf[id_col], pdf[bytes_col]):
                if payload is None:
                    continue
                try:
                    arr = parse_avi(payload)
                    for idx in range(0, len(arr), every_n):
                        rows.append((vid, idx, arr[idx].tobytes()))
                    continue
                except UnsupportedVideoError:
                    pass
                n_frames = max(len(payload) // frame_sz, 1)
                for idx in range(0, n_frames, every_n):
                    rows.append(
                        (vid, idx, bytes(payload[idx * frame_sz : (idx + 1) * frame_sz]))
                    )
            yield pd.DataFrame(rows, columns=["vid_id", "frame_idx", "frame_bytes"])

    return videos.select(
        videos[id_col].alias(id_col), videos[bytes_col].alias(bytes_col)
    ).mapInPandas(frames, schema=FRAME_SAMPLE_SCHEMA)
