"""Real G.711 μ-law / A-law codecs (ITU-T G.711, public spec) — vectorized
numpy, no library needed.

Unlike WAV/AVI (containers) these are actual CODECS: logarithmic 8-bit
companding of 16-bit PCM. They extend the honest-decode surface of
``operators/audio.py`` — WAV files with format tags 7 (μ-law) and 6 (A-law)
and the raw ``pcm_mulaw`` / ``pcm_alaw`` codec ids decode for real; the
remaining fakes are the codecs that genuinely need pyav/ffmpeg (opus,
mp3).

The implementations follow the canonical public-domain G.711 reference
(Sun g711.c shapes); tests fuzz them byte-exact against CPython's
``audioop`` (present in this 3.11 container) plus library-free invariants
(round-trip quantization error bounds, sine SNR) so the pin survives
audioop's removal in later Pythons.
"""

from __future__ import annotations

import numpy as np

MULAW_BIAS = 0x84  # 132
_MULAW_EXP_LUT = np.array(
    [(MULAW_BIAS << e) - MULAW_BIAS for e in range(8)], dtype=np.int32
)  # 0, 132, 396, 924, 1980, 4092, 8316, 16764

_ALAW_SEG_END = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int32
)


_MULAW_SEG_END14 = np.array(
    [0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF], dtype=np.int32
)


def encode_mulaw(pcm16: np.ndarray) -> np.ndarray:
    """int16 linear → μ-law bytes (uint8), vectorized. Follows the 14-bit
    G.711 encoder (the CCITT variant CPython's audioop implements): samples
    are taken at 14-bit precision, magnitude clipped to 8159, bias 33."""
    x = np.asarray(pcm16, dtype=np.int32) >> 2  # 14-bit domain
    mask = np.where(x < 0, 0x7F, 0xFF).astype(np.int32)
    v = np.minimum(np.where(x < 0, -x, x), 8159) + (MULAW_BIAS >> 2)
    seg = np.searchsorted(_MULAW_SEG_END14, v)  # 0..8
    over = seg >= 8
    seg_c = np.minimum(seg, 7)
    uval = (seg_c << 4) | ((v >> (seg_c + 1)) & 0x0F)
    out = np.where(over, 0x7F, uval) ^ mask
    return (out & 0xFF).astype(np.uint8)


def decode_mulaw(data: bytes | np.ndarray) -> np.ndarray:
    """μ-law bytes → int16 linear, via a 256-entry LUT built from the
    reference formula."""
    u = (~np.arange(256, dtype=np.int32)) & 0xFF
    e = (u >> 4) & 0x07
    m = u & 0x0F
    mag = _MULAW_EXP_LUT[e] + (m << (e + 3))
    lut = np.where(u & 0x80, -mag, mag).astype(np.int16)
    buf = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, bytearray)) else np.asarray(data, dtype=np.uint8)
    return lut[buf]


def encode_alaw(pcm16: np.ndarray) -> np.ndarray:
    """int16 linear → A-law bytes (uint8), vectorized (Sun g711.c shape)."""
    x = np.asarray(pcm16, dtype=np.int32) >> 3  # 13-bit domain
    mask = np.where(x >= 0, 0xD5, 0x55).astype(np.int32)
    v = np.where(x >= 0, x, -x - 1)
    seg = np.searchsorted(_ALAW_SEG_END, v)  # 0..8
    over = seg >= 8
    seg_c = np.minimum(seg, 7)
    aval = (seg_c << 4) | np.where(
        seg_c < 2, (v >> 1) & 0x0F, (v >> seg_c) & 0x0F
    )
    out = np.where(over, 0x7F ^ mask, aval ^ mask)
    return (out & 0xFF).astype(np.uint8)


def decode_alaw(data: bytes | np.ndarray) -> np.ndarray:
    """A-law bytes → int16 linear via LUT."""
    a = np.arange(256, dtype=np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)))
    lut = np.where(a & 0x80, t, -t).astype(np.int16)
    buf = np.frombuffer(data, dtype=np.uint8) if isinstance(data, (bytes, bytearray)) else np.asarray(data, dtype=np.uint8)
    return lut[buf]


# WAVE format tags (RIFF spec, public)
WAVE_FORMAT_PCM = 1
WAVE_FORMAT_ALAW = 6
WAVE_FORMAT_MULAW = 7
