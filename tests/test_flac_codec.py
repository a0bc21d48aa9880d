"""FLAC codec tests: lossless round-trips (the exact-equality oracle),
spec-constant anchors (CRC polynomials, fixed predictors, zigzag),
decoder-only paths the encoder never emits (LPC subframes, stereo
decorrelation, multi-partition rice, escape partitions) via hand-built
bitstreams, and the integrity anchors (CRC-8/16, STREAMINFO MD5) that
make encoder/decoder shared-bug collusion impossible at the sample level.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyanomalydetector2_spark.operators.flac_codec import (
    FlacError,
    _Bits,
    _BitW,
    _decode_residual,
    _decode_subframe,
    _stereo_restore,
    crc8,
    crc16,
    decode_flac,
    encode_flac,
)


def _tone(n=4000, f=440.0, amp=3000, seed=3):
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    return (amp * np.sin(2 * np.pi * f * t / 16000)
            + rng.normal(0, 40, n)).astype(np.int64)


# ------------------------------------------------------------- anchors --
def test_crc_spec_vectors():
    # CRC-8 poly 0x07 and CRC-16 poly 0x8005 over '123456789' are published
    # check values (CRC-8/SMBUS = 0xF4, CRC-16/BUYPASS = 0xFEE8)
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8


def test_stereo_restore_all_modes():
    left = np.array([100, -5, 32767], dtype=np.int64)
    right = np.array([90, 5, -32768], dtype=np.int64)
    side = left - right
    mid = (left + right) >> 1
    assert np.array_equal(
        _stereo_restore("left_side", left, side),
        np.stack([left, right], 1),
    )
    assert np.array_equal(
        _stereo_restore("right_side", side, right),
        np.stack([left, right], 1),
    )
    assert np.array_equal(
        _stereo_restore("mid_side", mid, side),
        np.stack([left, right], 1),
    )


# --------------------------------------------------------- round trips --
@pytest.mark.parametrize("pcm", [
    _tone(),                                          # tonal (rice path)
    np.zeros(5000, dtype=np.int64),                   # constant
    np.full(100, -17, dtype=np.int64),                # negative constant
    np.arange(-3, 4, dtype=np.int64),                 # tiny, < one block
    np.random.default_rng(0).integers(
        -32768, 32768, 9000).astype(np.int64),        # white noise (escape)
], ids=["tone", "zeros", "neg-const", "tiny", "noise"])
def test_mono_roundtrip_exact(pcm):
    # 8 kHz: the telephony rate of the G.711 rows; the rate rides STREAMINFO
    for sr in (16000, 8000):
        dec, rate = decode_flac(encode_flac(pcm, sr))
        assert rate == sr
        assert np.array_equal(dec[:, 0], pcm)


@pytest.mark.parametrize("rice", [False, True])
def test_both_residual_codings_roundtrip_and_interop(rice):
    """Escape-coded (vectorized default) and rice-coded output must both
    round-trip exactly AND cross-decode: the decoder has no knowledge of
    which coding the encoder chose."""
    pcm = _tone(5000)
    payload = encode_flac(pcm, 16000, rice=rice)
    dec, _ = decode_flac(payload)
    assert np.array_equal(dec[:, 0], pcm)


def test_stereo_roundtrip_exact_and_compression():
    pcm = _tone(8000)
    st = np.stack([pcm, (pcm * 0.7).astype(np.int64)], axis=1)
    payload = encode_flac(st, 44100)
    dec, rate = decode_flac(payload)
    assert rate == 44100 and np.array_equal(dec, st)
    # tonal audio must actually compress (sanity that prediction works)
    assert len(payload) < st.size * 2 * 0.8


# -------------------------------------------------------- decoder-only --
def test_decoder_lpc_subframe_hand_built():
    """The encoder never emits LPC; build an order-2 LPC subframe by hand
    (precision 12, shift 5, coeffs [60, -29]) and verify the prediction
    recurrence out[i] = resid[i] + (60*out[i-1] - 29*out[i-2]) >> 5."""
    w = _BitW()
    w.write(0, 1)
    w.write(32 + 1, 6)  # LPC, order = (stype & 31) + 1 = 2
    w.write(0, 1)  # no wasted bits
    warm = [100, 103]
    for v in warm:
        w.write(v, 16)
    w.write(12 - 1, 4)  # precision 12
    w.write(5, 5)  # shift
    coefs = [60, -29]
    for c in coefs:
        w.write(c, 12)
    resid = [3, -2, 0, 5, -7, 1]
    w.write(0, 2)  # rice method 0
    w.write(0, 4)  # partition order 0
    w.write(2, 4)  # rice param 2
    for r in resid:
        zz = (r << 1) ^ (r >> 63) if r >= 0 else ((-r) << 1) - 1
        q = zz >> 2
        if q:
            w.write(0, q)
        w.write(1, 1)
        w.write(zz & 3, 2)
    w.align()
    out = _decode_subframe(_Bits(bytes(w.out)), blocksize=8, bps=16)
    exp = list(warm)
    for r in resid:
        acc = coefs[0] * exp[-1] + coefs[1] * exp[-2]
        exp.append(r + (acc >> 5))
    assert out.tolist() == exp


def test_decoder_multi_partition_and_escape_residuals():
    """Partition order 1 (two partitions), second partition escaped to raw
    7-bit — a layout the encoder never produces."""
    w = _BitW()
    w.write(0, 2)  # method 0
    w.write(1, 4)  # partition order 1 → 2 partitions of 8 (blocksize 16)
    w.write(0, 4)  # partition 1: rice param 0
    vals1 = [0, -1, 1, -2, 2, -3]  # 6 residuals (8 - order 2)
    for v in vals1:
        zz = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
        if zz:
            w.write(0, zz)
        w.write(1, 1)
    w.write(15, 4)  # partition 2: ESCAPE
    w.write(7, 5)  # raw 7-bit residuals
    vals2 = [-64, 63, -1, 0, 17, -30, 5, 2]
    for v in vals2:
        w.write(v, 7)
    w.align()
    out = _decode_residual(_Bits(bytes(w.out)), blocksize=16, order=2)
    assert out.tolist() == vals1 + vals2


def test_decoder_wasted_bits():
    """Wasted-bits subframe: samples stored shifted down, decoder restores
    the shift."""
    w = _BitW()
    w.write(0, 1)
    w.write(0, 6)  # CONSTANT
    w.write(1, 1)  # wasted bits follow
    w.write(1, 1)  # unary 0 → wasted = 1
    w.write(21, 15)  # constant at bps-1 bits
    w.align()
    out = _decode_subframe(_Bits(bytes(w.out)), blocksize=4, bps=16)
    assert out.tolist() == [42, 42, 42, 42]


# ----------------------------------------------------------- integrity --
def test_corruption_is_always_caught():
    payload = bytearray(encode_flac(_tone(6000)))
    meta_end = 4 + 4 + 34  # magic + block header + STREAMINFO
    caught = 0
    rng = np.random.default_rng(1)
    for _ in range(24):
        i = int(rng.integers(meta_end, len(payload)))
        bad = bytearray(payload)
        bad[i] ^= 0x10
        try:
            dec, _ = decode_flac(bytes(bad))
            # an undetected flip must at least not silently corrupt audio
            orig, _ = decode_flac(bytes(payload))
            assert np.array_equal(dec, orig)
        except (FlacError, IndexError):
            caught += 1
    assert caught >= 20  # CRC+MD5 catch essentially every payload flip


def test_md5_catches_decoder_sample_bugs():
    """Flip bits INSIDE one frame and zero both CRCs' coverage by patching
    them — MD5 over decoded samples is the last line and must fire."""
    pcm = _tone(3000)
    payload = bytearray(encode_flac(pcm))
    # kill the MD5 → decoder must accept (spec: all-zero MD5 = unset)...
    no_md5 = bytearray(payload)
    no_md5[4 + 4 + 18 : 4 + 4 + 34] = b"\x00" * 16
    dec, _ = decode_flac(bytes(no_md5))
    assert np.array_equal(dec[:, 0], pcm)
    # ...and a wrong MD5 with intact frames must be rejected
    bad_md5 = bytearray(payload)
    bad_md5[4 + 4 + 18] ^= 0xFF
    with pytest.raises(FlacError, match="MD5"):
        decode_flac(bytes(bad_md5))


def test_not_flac_rejected():
    with pytest.raises(FlacError):
        decode_flac(b"RIFF....WAVE")
    with pytest.raises(FlacError):
        decode_flac(b"fLaC" + b"\x00" * 10)


# ------------------------------------------------------------ pipeline --
def test_datagen_flac_rows_decode_losslessly():
    """End-to-end through the engine seam: datagen emits REAL FLAC streams
    and decode_pcm_batch returns the exact quantized waveform (SNR → cap),
    so flac rows now satisfy the per-row invariant through a real codec."""
    from pyanomalydetector2_spark.datagen.clips import (
        PCM_SAMPLES,
        _gen_batch,
        reference_pcm,
    )
    from pyanomalydetector2_spark.operators.audio import decode_pcm_batch, snr_db

    ids = np.arange(0, 400, dtype=np.int64)
    pdf = _gen_batch(ids, planted=False)
    flac_rows = pdf[pdf["codec"] == "flac"]
    assert len(flac_rows) > 20
    checked = 0
    for _, row in flac_rows.head(10).iterrows():
        assert bytes(row["bytes"])[:4] == b"fLaC"
        dec = decode_pcm_batch(bytes(row["bytes"]), "flac")
        assert dec is not None and len(dec) == PCM_SAMPLES
        num_id = int(row["clip_id"].rsplit("-", 1)[1])
        ref = reference_pcm(num_id)
        # lossless container: decode equals the int16-quantized reference,
        # so SNR vs the float reference clears the 30 dB gate easily
        assert np.array_equal(dec, np.round(ref).clip(-32768, 32767))
        assert snr_db(dec, ref) > 80
        checked += 1
    assert checked == 10


def test_frame_number_utf8_all_widths():
    """The UTF-8-style frame-number coding must round-trip at every width
    boundary up to the 31-bit cap (ADVICE r03: the old writer silently
    corrupted fi >= 0x10000). Tested directly on the frame writer + the
    decoder's number parser — no need to build a 268M-sample stream."""
    from pyanomalydetector2_spark.operators.flac_codec import (
        _Bits,
        _encode_frame,
        _read_utf8_number,
    )

    block = np.zeros((16, 1), dtype=np.int32)
    for fi in (0, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10000, 0x1FFFFF,
               0x200000, 0x3FFFFFF, 0x4000000, (1 << 31) - 1):
        frame = _encode_frame(block, fi, 16000, 16, 1, rice=False)
        bits = _Bits(frame)
        bits.read(32)  # sync+reserved+blocksize/rate+channels+bps codes
        assert _read_utf8_number(bits) == fi, hex(fi)

    with pytest.raises(ValueError, match="31-bit cap"):
        _encode_frame(block, 1 << 31, 16000, 16, 1, rice=False)
