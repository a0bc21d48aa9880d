"""Multimodal (audio) row invariants — Arrow-batched pandas UDFs.

The north_rule per-row invariant: decoded PCM must match the reference decode
with SNR ≥ 30 dB, and the transcript must equal the reference transcript.
Both are recomputable from the clip_id (datagen.clips derives everything from
the numeric id), so the check is self-contained.

Execution model (input_hint: "vectorized pandas/Arrow UDFs, no per-row
Python" at the *engine* level): the binary column crosses the JVM→Python
boundary once per Arrow batch; numpy does the decode + SNR math. Column
pruning keeps the ``bytes`` column out of every other operator's scan
(SURVEY §4 — the profile/uniqueness/drift passes never touch it).

Codec handling — REAL paths: ``pcm_s16le`` (int16 LE → float), ``wav``
(RIFF parse, format tags 1/7/6), ``pcm_mulaw`` / ``pcm_alaw`` (actual
G.711 companding, operators/g711.py — byte-exact vs CPython's audioop),
and ``flac`` (full bitstream decoder, operators/flac_codec.py — CRC-8/16
and STREAMINFO-MD5 verified). ``opus``/``mp3`` have REAL container walks
(Ogg pages with CRC verification + OpusHead, operators/ogg_opus.py; exact
MPEG frame geometry, operators/mp3_frames.py) around a clearly-marked
fake codec payload (those need libopus/ffmpeg, absent here; see
datagen.clips docstring).
``decode_pcm_batch`` is the single seam where pyav/soundfile would plug
in. Unknown codecs → decode failure (decode_ok=false), which the suite
surfaces as a violation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pyanomalydetector2_spark.datagen.clips import CODEC_MAGIC, PCM_SAMPLES

SNR_CAP_DB = 999.0


def parse_wav(payload: bytes) -> np.ndarray | None:
    """REAL RIFF/WAVE parse — container walk plus sample decode for the
    formats that need no library: tag 1 (16-bit linear PCM), tag 7 (G.711
    μ-law) and tag 6 (G.711 A-law) via ``operators/g711.py``. Returns the
    decoded 16-bit waveform as float64; None on any structural violation
    (truncated header, missing chunks, unsupported format)."""
    import struct

    from pyanomalydetector2_spark.operators.g711 import (
        WAVE_FORMAT_ALAW,
        WAVE_FORMAT_MULAW,
        WAVE_FORMAT_PCM,
        decode_alaw,
        decode_mulaw,
    )

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, tag, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, sz = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + sz]
        # len(body) check: a declared-16-byte fmt chunk can still be
        # TRUNCATED at end-of-payload — that must be a clean None, not a
        # struct.error killing the Arrow batch
        if cid == b"fmt " and sz >= 16 and len(body) >= 16:
            audio_fmt, _ch, _sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", body)
            if audio_fmt == WAVE_FORMAT_PCM and bits == 16:
                tag = audio_fmt
            elif audio_fmt in (WAVE_FORMAT_MULAW, WAVE_FORMAT_ALAW) and bits == 8:
                tag = audio_fmt
            else:
                tag = None
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if tag is None or data is None:
        return None
    if tag == WAVE_FORMAT_PCM:
        if len(data) % 2:
            return None
        return np.frombuffer(data, dtype="<i2").astype(np.float64)
    dec = decode_mulaw(data) if tag == WAVE_FORMAT_MULAW else decode_alaw(data)
    return dec.astype(np.float64)


def wav_header_info(payload: bytes) -> dict | None:
    """No-decode RIFF walk: fmt-chunk fields + data size, or None if the
    container is structurally invalid (the cheap validation tier)."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt " and sz >= 16 and len(body) >= 16:
            tag, ch, sr, _br, ba, bits = struct.unpack_from("<HHIIHH", body)
            fmt = {"format_tag": tag, "channels": ch, "sample_rate": sr,
                   "block_align": ba, "bits": bits}
        elif cid == b"data":
            data_len = len(body)
        pos += 8 + sz + (sz & 1)
    if fmt is None or data_len is None:
        return None
    ba = max(fmt["block_align"], 1)
    return {**fmt, "data_bytes": data_len, "n_samples": data_len // ba}


def encode_wav(pcm16: np.ndarray, sr_hz: int = 16000, fmt_tag: int = 1) -> bytes:
    """Minimal RIFF/WAVE writer (test fixture + the parse_wav round-trip
    oracle): mono 16-bit PCM (tag 1), or G.711 μ-law/A-law (tags 7/6 —
    samples companded for real via operators/g711.py)."""
    import struct

    from pyanomalydetector2_spark.operators.g711 import (
        WAVE_FORMAT_ALAW,
        WAVE_FORMAT_MULAW,
        encode_alaw,
        encode_mulaw,
    )

    if fmt_tag == WAVE_FORMAT_MULAW:
        data, ba, bits = encode_mulaw(pcm16).tobytes(), 1, 8
    elif fmt_tag == WAVE_FORMAT_ALAW:
        data, ba, bits = encode_alaw(pcm16).tobytes(), 1, 8
    else:
        data, ba, bits = pcm16.astype("<i2").tobytes(), 2, 16
    fmt = struct.pack("<HHIIHH", fmt_tag, 1, sr_hz, sr_hz * ba, ba, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:  # RIFF word alignment: odd chunks carry a pad byte
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_pcm_batch(payload: bytes | None, codec: str | None) -> np.ndarray | None:
    """Decode one clip payload → float64 waveform, or None if undecodable.

    REAL paths: pcm_s16le (raw), wav (RIFF container parse — parse_wav),
    G.711, flac (flac_codec.decode_flac, integrity-verified), and the
    opus/mp3 CONTAINER walks (ogg_opus/mp3_frames — CRC-checked pages /
    exact frame geometry). Only the opus/mp3 codec payloads are the
    declared deterministic fake (they need libopus/ffmpeg). A production
    build swaps the packet-bytes-to-PCM step for the real decoder — the
    UDF plumbing around it is unchanged.
    """
    if payload is None or codec is None:
        return None
    if codec == "wav":
        wave = parse_wav(payload)
        if wave is None or len(wave) < PCM_SAMPLES:
            return None
        return wave[:PCM_SAMPLES]
    if codec in ("pcm_mulaw", "pcm_alaw"):  # REAL G.711 decode
        from pyanomalydetector2_spark.operators.g711 import decode_alaw, decode_mulaw

        if len(payload) < PCM_SAMPLES:
            return None
        dec = (decode_mulaw if codec == "pcm_mulaw" else decode_alaw)(
            payload[:PCM_SAMPLES]
        )
        return dec.astype(np.float64)
    if codec == "flac":  # REAL FLAC decode (operators/flac_codec.py)
        from pyanomalydetector2_spark.operators.flac_codec import (
            FlacError,
            decode_flac,
        )

        try:
            samples, _ = decode_flac(payload)
        except FlacError:
            return None  # not a FLAC stream / corrupt container
        if samples.shape[0] < PCM_SAMPLES:
            return None
        return samples[:PCM_SAMPLES, 0].astype(np.float64)
    if codec == "opus":  # REAL Ogg/OpusHead container walk, fake codec
        from pyanomalydetector2_spark.operators.ogg_opus import (
            OggError,
            opus_packet_bytes,
        )

        try:
            raw = opus_packet_bytes(payload)
        except (OggError, ValueError):
            return None  # not an Ogg-Opus stream / corrupt container
    elif codec == "mp3":  # REAL MPEG frame walk, fake codec
        from pyanomalydetector2_spark.operators.mp3_frames import (
            Mp3Error,
            frame_payload_bytes,
        )

        try:
            raw = frame_payload_bytes(payload)
        except (Mp3Error, ValueError):
            return None  # not an MPEG stream / corrupt container
    elif codec == "pcm_s16le":
        raw = payload
    else:
        magic = CODEC_MAGIC.get(codec)
        if magic is None or not payload.startswith(magic):
            return None  # unknown codec / corrupt container
        raw = payload[len(magic):]
    if len(raw) < 2 * PCM_SAMPLES:
        return None
    return np.frombuffer(raw[: 2 * PCM_SAMPLES], dtype="<i2").astype(np.float64)


def snr_db(decoded: np.ndarray, reference: np.ndarray) -> float:
    err = decoded - reference
    pe = float(np.sum(err * err))
    ps = float(np.sum(reference * reference))
    if pe == 0.0:
        return SNR_CAP_DB
    if ps == 0.0:
        return 0.0
    return min(10.0 * np.log10(ps / pe), SNR_CAP_DB)


_INV_TYPE = T.StructType(
    [
        T.StructField("snr", T.DoubleType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("transcript_ok", T.BooleanType()),
        T.StructField("silence_ratio", T.DoubleType()),
    ]
)


@pandas_udf(_INV_TYPE)
def audio_invariants(
    clip_id: pd.Series, payload: pd.Series, codec: pd.Series, transcript: pd.Series
) -> pd.DataFrame:
    """Arrow-batched invariant kernel. The reference waveforms for the WHOLE
    batch are synthesized into a reused scratch matrix (fresh large
    allocations are expensive on some hosts) and the SNR is one vectorized
    reduction; only payload decode and the final string compare are per-row
    (inherently so)."""
    from pyanomalydetector2_spark.datagen.clips import (
        _scratch,
        reference_transcripts_batch,
        synth_waves,
        u01,
    )

    n = len(clip_id)
    snrs = np.full(n, np.nan)
    dec_ok = np.zeros(n, dtype=bool)
    t_ok = np.zeros(n, dtype=bool)

    nums = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        cid = clip_id.iat[i]
        if cid is None:
            continue
        try:
            nums[i] = int(cid.rsplit("-", 1)[1])
        except (ValueError, IndexError):
            continue
    valid = nums >= 0
    nums_safe = np.where(valid, nums, 0)

    decs = _scratch("udf_decs", (n, PCM_SAMPLES))
    decs[:] = 0.0
    for i in range(n):
        if not valid[i]:
            continue
        dec = decode_pcm_batch(payload.iat[i], codec.iat[i])
        if dec is not None:
            dec_ok[i] = True
            decs[i] = dec

    freqs = 100.0 + 400.0 * u01(nums_safe, 5)
    refs = synth_waves(nums_safe, freqs)
    ps = np.einsum("ij,ij->i", refs, refs)
    # silence share of the decoded head (|x| < 1 % full scale) — computed
    # BEFORE decs is reused as the error matrix; one vectorized reduction
    # on the decode the SNR pass already materialized (zero extra decode
    # work). Feeds the cross-modal transcript checks.
    sil = np.mean(np.abs(decs) < 327.68, axis=1)
    np.subtract(decs, refs, out=decs)  # decs becomes the error matrix
    pe = np.einsum("ij,ij->i", decs, decs)
    with np.errstate(divide="ignore", invalid="ignore"):
        s = 10.0 * np.log10(ps / pe)
    # mirror the scalar snr_db exactly: pe==0 → cap; else ps==0 → 0.0
    s = np.where(
        pe == 0.0, SNR_CAP_DB, np.where(ps == 0.0, 0.0, np.minimum(s, SNR_CAP_DB))
    )
    mask = valid & dec_ok
    snrs[mask] = s[mask]

    sils = np.full(n, np.nan)
    sils[mask] = sil[mask]  # NaN for undecodable rows (missing evidence)

    ref_t = reference_transcripts_batch(nums_safe)
    for i in range(n):
        if not valid[i]:
            continue
        tr = transcript.iat[i]
        t_ok[i] = tr is not None and tr == ref_t[i]
    return pd.DataFrame(
        {
            "snr": snrs,
            "decode_ok": dec_ok,
            "transcript_ok": t_ok,
            "silence_ratio": sils,
        }
    )


def with_audio_invariants(clips: DataFrame) -> DataFrame:
    """Project ONLY the needed columns (bytes stays out of all other scans),
    attach the invariant struct."""
    inv = audio_invariants("clip_id", "bytes", "codec", "transcript")
    return clips.withColumn("_inv", inv).select(
        *[c for c in clips.columns if c != "bytes"],
        F.col("_inv.snr").alias("snr"),
        F.col("_inv.decode_ok").alias("decode_ok"),
        F.col("_inv.transcript_ok").alias("transcript_ok"),
        F.col("_inv.silence_ratio").alias("silence_ratio"),
    ).drop("_inv")
