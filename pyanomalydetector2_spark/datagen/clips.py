"""Deterministic synthetic audio clips + transcript table (FIXTURES.md §B1).

Schema per BASELINE.json input_hint:
    (clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
     transcript string)
plus a derived ``bucket`` partition column = crc32(clip_id) % n_buckets (the
parquet stand-in for Iceberg's ``bucket(clip_id, B)`` partition transform).

Generation is DISTRIBUTED (mapInPandas over spark.range) and keyed purely by
the numeric row id through a splitmix64 hash, so:
- any executor/partitioning produces identical rows (resume-safe),
- a pandas/DuckDB oracle can recompute every value exactly (test pattern 2
  in SURVEY §5 — independent recomputation),
- the per-row invariant UDF can re-derive the REFERENCE decode from the
  clip_id alone (the SNR>=30dB allclose target).

Audio payload: a seeded sine wave quantized to int16 LE ("pcm_s16le").
Every named codec carries a REAL container (r03): wav = RIFF, flac = full
FLAC bitstream (lossless — decode == quant exactly), opus = Ogg pages with
verified CRCs + OpusHead around declared-fake packet payloads, mp3 = exact
MPEG-1 Layer III frame geometry around declared-fake frame payloads. Only
the opus/mp3 CODEC payloads are fakes (libopus/ffmpeg absent); container
walks, CRCs, and metadata are real. Payload length is fixed at PCM_SAMPLES
regardless of dur_ms (clip "head" — engines store full audio in object
storage; the validation engine only needs a decodable prefix).

Planted violations (current snapshot only), each on its own prime stride so
tests can count them in closed form:
- duplicate clip_id        id % 97  == 1  (takes the id of the previous row)
- unknown codec            id % 101 == 2  → "amr_nb"
- sr_hz not in dim         id % 103 == 3  → 12345
- null transcript          id % 107 == 4
- empty transcript         id % 109 == 5
- corrupted PCM (SNR<30)   id % 113 == 6  (additive seeded noise)
- transcript mismatch      id % 127 == 7  (tokens shifted vs reference)
- silent clip w/transcript id % 131 == 8  (payload zeroed; flags the
                           cross-modal silence check AND pcm_snr_30db —
                           the reference decode is the sine, so the
                           closed-form snr count includes this stride)
- speaking rate too fast   id % 137 == 9  (transcript ×40, dur_ms=1000
                           → 200–560 tok/s; also trips transcript match)
- speaking rate too slow   id % 139 == 10 (transcript 'ok', dur_ms=60000
                           → 0.017 tok/s; also trips transcript match)
- PII in transcript        id % 149 == 11 (deterministic email/IPv4/phone
                           appended, kind cycling on id % 3; lowest
                           precedence — null/empty/mismatch/rate plants
                           keep their transcripts, so PII lands only where
                           no other transcript plant hit; also trips
                           transcript match, the documented overlap norm)
- dur_ms drift             current dur_ms *= 1.25 (distribution shift vs
                           baseline → PSI/KS target)

Normal rows never trip the rate bounds (0.02, 100): 5–14 tokens over
Box-Muller dur_ms ∈ [~221 ms, ~40 s] keeps tokens·1000/dur_ms inside
[0.125, 63.4] in both snapshots.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyanomalydetector2_spark.functions import local_rows_df

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
    "transcript string, bucket int"
)

CODECS = ("pcm_s16le", "wav", "flac", "opus", "mp3")
SAMPLE_RATES = (8000, 16000, 22050, 44100, 48000)
# r03: every named codec now carries a REAL container (FLAC bitstream,
# Ogg-Opus pages, MPEG frame shells); legacy magic-tag fakes deliberately
# decode as decode_ok=false across the data-version boundary. The map
# remains only as the decode seam's legacy/unknown-codec guard.
CODEC_MAGIC: dict[str, bytes] = {}
PCM_SAMPLES = 512
PCM_AMP = 26000.0
VOCAB = (
    "the quick brown fox jumps over lazy dog audio clip speech sample "
    "hello world test data sound wave noise signal".split()
)

# violation strides (prime, offset)
V_DUP = (97, 1)
V_CODEC = (101, 2)
V_SR = (103, 3)
V_NULL_T = (107, 4)
V_EMPTY_T = (109, 5)
V_PCM = (113, 6)
V_MISMATCH = (127, 7)
V_SILENT = (131, 8)
V_RATE_HI = (137, 9)
V_RATE_LO = (139, 10)
V_PII = (149, 11)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the engine-independent RNG core."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    return x ^ (x >> np.uint64(31))


def u01(ids: np.ndarray, stream: int) -> np.ndarray:
    """Deterministic uniform[0,1) per (id, stream)."""
    h = _splitmix64(ids.astype(np.uint64) * np.uint64(2654435761) + np.uint64(stream))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def clip_id_of(ids: np.ndarray) -> np.ndarray:
    return np.char.add("clip-", np.char.zfill(ids.astype("int64").astype(str), 12))


_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, shape: tuple[int, ...]) -> np.ndarray:
    """Reusable float64 work buffer (this VM pays ~100 ms per fresh-touched
    40 MB allocation; reuse makes repeat batches allocation-free)."""
    buf = _SCRATCH.get(name)
    need = int(np.prod(shape))
    if buf is None or buf.size < need:
        buf = np.empty(need, dtype=np.float64)
        _SCRATCH[name] = buf
    return buf[:need].reshape(shape)


def synth_waves(ids: np.ndarray, freqs: np.ndarray) -> np.ndarray:
    """(n × PCM_SAMPLES) reference waveforms, in-place ops on a reused
    buffer. Element-for-element identical to
    ``sin(2π·f·t/8000)·PCM_AMP`` computed per row."""
    n = len(ids)
    t = np.arange(PCM_SAMPLES, dtype=np.float64)
    m = _scratch("waves", (n, PCM_SAMPLES))
    np.multiply((2.0 * np.pi * freqs)[:, None], t[None, :], out=m)
    np.divide(m, 8000.0, out=m)
    np.sin(m, out=m)
    np.multiply(m, PCM_AMP, out=m)
    return m


def reference_pcm(num_id: int) -> np.ndarray:
    """The reference decode for a clip: seeded sine, float in [-1,1]*AMP."""
    f = 100.0 + 400.0 * u01(np.array([num_id]), 5)[0]
    t = np.arange(PCM_SAMPLES, dtype=np.float64)
    return np.sin(2.0 * np.pi * f * t / 8000.0) * PCM_AMP


def reference_transcripts_batch(num_ids: np.ndarray) -> list[str]:
    """The reference transcript of each clip id: 5–14 seeded vocabulary
    tokens (hash math batched, only the final join is per row)."""
    n = len(num_ids)
    n_tok = 5 + (u01(num_ids, 7) * 10).astype(int)
    idx = (
        u01((num_ids[:, None] + np.arange(15)[None, :]).ravel(), 11) * len(VOCAB)
    ).astype(int).reshape(n, 15)
    vocab = VOCAB
    return [
        " ".join(vocab[j] for j in idx[i, : n_tok[i]]) for i in range(n)
    ]


def _dur_ms(ids: np.ndarray, drift: float) -> np.ndarray:
    """Log-normal-ish duration via Box-Muller on two hash streams."""
    u1 = np.clip(u01(ids, 21), 1e-12, 1.0)
    u2 = u01(ids, 22)
    z = np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)
    return (np.exp(8.0 + 0.35 * z) * drift).astype(np.int64).clip(50, 120_000)


def _hits(ids: np.ndarray, stride: tuple[int, int]) -> np.ndarray:
    p, off = stride
    return (ids % p) == off


def _gen_batch(
    ids: np.ndarray,
    planted: bool,
    codecs: tuple[str, ...] = CODECS,
    hot_key_share: float = 0.0,
) -> pd.DataFrame:
    n = len(ids)
    # duplicates are FULL row copies of the previous id (a true duplicate
    # record — it must trip only the uniqueness check, nothing else), so all
    # content derives from the effective id
    if planted:
        dup = _hits(ids, V_DUP) & (ids > 0)
        eff = ids.copy()
        eff[dup] = ids[dup] - 1
    else:
        eff = ids
    if hot_key_share > 0.0:
        # skew knob (VERDICT r04 #6): a deterministic hash-chosen share of
        # rows become FULL copies of clip 0 — one degenerate clip_id (and,
        # since bucket = crc32(clip_id), one degenerate bucket) carrying
        # that share of the table. Applied AFTER the dup plant so the hot
        # set is a pure function of the row id; apply the same share to
        # baseline and current so drift comparisons stay apples-to-apples.
        hot = u01(ids, 90) < hot_key_share
        eff = eff.copy()
        eff[hot] = 0
    cids = clip_id_of(eff)
    sr = np.array(SAMPLE_RATES)[(u01(eff, 31) * len(SAMPLE_RATES)).astype(int)]
    codec = np.array(codecs)[(u01(eff, 32) * len(codecs)).astype(int)]
    dur = _dur_ms(eff, 1.25 if planted else 1.0)

    if planted:
        codec = codec.copy()
        codec[_hits(eff, V_CODEC)] = "amr_nb"
        sr = sr.copy()
        sr[_hits(eff, V_SR)] = 12345
        # speaking-rate plants pin dur_ms so the rate is deterministic
        # regardless of the Box-Muller draw (transcripts set below)
        dur = dur.copy()
        dur[_hits(eff, V_RATE_HI)] = 1000
        dur[_hits(eff, V_RATE_LO)] = 60000

    # batch-vectorized wave synthesis: one (n × samples) matrix, in-place ops
    # (this VM pays heavily for fresh large allocations — buffers are touched
    # once). Formula identical per element to the scalar form, so payloads
    # are bit-identical to a per-row synthesis.
    t = np.arange(PCM_SAMPLES, dtype=np.float64)
    freqs = 100.0 + 400.0 * u01(eff, 5)
    waves = synth_waves(eff, freqs)
    noise_mask = _hits(eff, V_PCM) if planted else np.zeros(n, dtype=bool)
    for i in np.nonzero(noise_mask)[0]:
        nz = (u01(eff[i] * PCM_SAMPLES + np.arange(PCM_SAMPLES), 41) - 0.5) * PCM_AMP
        waves[i] = waves[i] + nz
    if planted:
        # silent-clip plant: digitally-silent payload under a normal
        # transcript — the cross-modal mislabel case. The reference
        # decode stays the sine, so these rows also fail pcm_snr_30db
        # (overlapping flags are the norm; counts stay closed-form)
        waves[_hits(eff, V_SILENT)] = 0.0
    # clip BEFORE the int16 cast: corrupted rows (wave ±26000 + noise
    # ±13000) can exceed int16 range, and float→int16 of out-of-range
    # values is formally undefined in numpy — clipping keeps the row just
    # as corrupted but bit-deterministic across platforms/numpy versions
    quant = np.clip(np.round(waves), -32768, 32767).astype("<i2")
    payloads: list[bytes] = []
    for i in range(n):
        if codec[i] == "wav":  # REAL RIFF container (parsed for real too)
            from pyanomalydetector2_spark.operators.audio import encode_wav

            payloads.append(encode_wav(quant[i], int(sr[i])))
        elif codec[i] in ("pcm_mulaw", "pcm_alaw"):  # REAL G.711 codecs
            from pyanomalydetector2_spark.operators.g711 import (
                encode_alaw,
                encode_mulaw,
            )

            enc = encode_mulaw if codec[i] == "pcm_mulaw" else encode_alaw
            payloads.append(enc(quant[i]).tobytes())
        elif codec[i] == "flac":  # REAL FLAC (lossless — decode == quant)
            from pyanomalydetector2_spark.operators.flac_codec import encode_flac

            payloads.append(encode_flac(quant[i].astype(np.int64), int(sr[i])))
        elif codec[i] == "opus":  # REAL Ogg container, fake codec payload
            from pyanomalydetector2_spark.operators.ogg_opus import (
                encode_ogg_opus,
                fake_opus_packets,
            )

            payloads.append(
                encode_ogg_opus(fake_opus_packets(quant[i]), int(sr[i]))
            )
        elif codec[i] == "mp3":  # REAL frame geometry, fake codec payload
            from pyanomalydetector2_spark.operators.mp3_frames import (
                encode_mp3_shell,
            )

            payloads.append(encode_mp3_shell(quant[i].tobytes(), int(sr[i])))
        else:
            # unknown codec (planted violation rows): raw PCM under a name
            # no decoder claims — decode_ok=false by construction
            payloads.append(quant[i].tobytes())

    trans: list[str | None] = []
    null_m = _hits(eff, V_NULL_T) if planted else np.zeros(n, dtype=bool)
    empty_m = _hits(eff, V_EMPTY_T) if planted else np.zeros(n, dtype=bool)
    mism_m = _hits(eff, V_MISMATCH) if planted else np.zeros(n, dtype=bool)
    rhi_m = _hits(eff, V_RATE_HI) if planted else np.zeros(n, dtype=bool)
    rlo_m = _hits(eff, V_RATE_LO) if planted else np.zeros(n, dtype=bool)
    pii_m = _hits(eff, V_PII) if planted else np.zeros(n, dtype=bool)
    ref_t = reference_transcripts_batch(eff)
    for i in range(n):
        if null_m[i]:
            trans.append(None)
        elif empty_m[i]:
            trans.append("")
        elif mism_m[i]:
            trans.append(ref_t[i] + " corrupted")
        elif rhi_m[i]:
            trans.append(" ".join([ref_t[i]] * 40))
        elif rlo_m[i]:
            trans.append("ok")
        elif pii_m[i]:
            # PII plant: 2–4 extra tokens keep the declared rate inside
            # the sane band; kind cycles so every pattern fires in any
            # fixture larger than ~450 rows
            e = int(eff[i])
            if e % 3 == 0:
                trans.append(f"{ref_t[i]} contact clip{e}@example.com")
            elif e % 3 == 1:
                trans.append(
                    f"{ref_t[i]} logged from 10.{e % 254}.{e % 199}.{e % 251}"
                )
            else:
                trans.append(f"{ref_t[i]} call +1 415 {1000 + e % 9000}")
        else:
            trans.append(ref_t[i])

    bucket = np.array(
        [zlib.crc32(c.encode()) for c in cids], dtype=np.int64
    )
    return pd.DataFrame(
        {
            "clip_id": cids,
            "bytes": payloads,
            "sr_hz": sr.astype(np.int32),
            "dur_ms": dur.astype(np.int32),
            "codec": codec,
            "transcript": trans,
            "bucket": bucket,
        }
    )


def clips_table(
    spark: SparkSession,
    n: int,
    planted: bool = True,
    n_buckets: int = 16,
    partitions: int | None = None,
    codecs: tuple[str, ...] = CODECS,
    hot_key_share: float = 0.0,
) -> DataFrame:
    """Distributed deterministic clips DataFrame.

    ``planted=False`` → baseline snapshot (no violations, no drift);
    ``planted=True``  → current snapshot with violations + dur_ms drift.
    ``hot_key_share`` > 0 → that share of rows are full copies of clip 0
    (one degenerate key + bucket; the skew-bench input, see _gen_batch).
    """

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy()
            out = _gen_batch(ids, planted, codecs, hot_key_share)
            out["bucket"] = (out["bucket"] % n_buckets).astype(np.int32)
            yield out

    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema=CLIPS_SCHEMA)


def dim_codec(spark: SparkSession, codecs: tuple[str, ...] = CODECS) -> DataFrame:
    return local_rows_df(spark, [(c,) for c in codecs], "codec string")


def dim_sr(spark: SparkSession) -> DataFrame:
    return local_rows_df(spark, [(s,) for s in SAMPLE_RATES], "sr_hz int")
