"""Audio spectral-fingerprint near-duplicate detection.

The corpus this engine validates IS audio (BASELINE.json input_hint), so
near-dup detection must key on the *signal*, not just text/embeddings: the
same recording re-encoded through a different codec (FLAC vs WAV vs G.711),
or re-gained, is a duplicate a text hash can never see. This module gives
the pipeline a chromaprint-style — but spec-free, derived only from the
classic Haitsma-Kalker / Wang band-energy-difference construction published
in the audio-fingerprinting literature — robust hash over decoded PCM:

1. decode payload → float PCM (REAL decoders: flac_codec / RIFF / G.711);
2. frame into Hann windows (WIN=1024, HOP=512), rFFT, energies over
   N_BANDS log-spaced bands;
3. bit(t, b) = sign of the time-difference of the band-difference
   (E[t,b]−E[t,b−1]) − (E[t−1,b]−E[t−1,b−1]) — invariant under uniform
   gain, robust to companding noise;
4. one BITS-bit hash per frame transition → the clip's fingerprint
   (N_HASHES ints).

Candidate generation reuses the SAME capped banded machinery as the
MinHash-LSH text path and hyperplane-LSH embedding path
(``dedup.pairs_from_banded``): band key = two consecutive frame hashes
(30 bits), hot buckets pruned by a size pre-count BEFORE any bucket array
materializes, audit via ``audio_fp_bucket_stats``. Re-rank is JVM-side:
``zip_with`` + ``bit_count`` Hamming similarity inside codegen — no Python
in the pair loop.

Scale shape (10^12-clip tier): ``bytes`` is read exactly once inside ONE
Arrow-batched ``mapInPandas`` (decode + fingerprint fused per batch); the
fingerprint frame is ~30 bytes/clip, so banding shuffles fingerprints, not
audio; pair generation is bucket-capped; the Hamming re-rank touches only
surviving candidates.

Reference parity: the reference repo has no audio operators at all — its
dedup analog is the per-metric groupid clustering (detect3's two-level
DBSCAN, detectors/detector3.py) over numeric series. This module is the
audio-native extension VERDICT r03 ranked #1.

Oracle story (driver contract): fingerprints are a pure deterministic
function of the synthetic corpus seed, so ``ensure_oracle_frames`` can
precompute the (seed, frame_idx, hash) table with plain numpy — DuckDB
then replays banding + Hamming re-rank in SQL over that parquet while
Spark runs the full distributed decode→fingerprint→band→re-rank pipeline;
the two must agree hash-exactly.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyanomalydetector2_spark.datagen.clips import _scratch, u01

# -- fingerprint geometry ---------------------------------------------------
# 2 s @ 8 kHz: 31 frames → 30 frame hashes. Shorter clips (6-14 hashes)
# measurably miss banding on a few % of planted re-encodes — G.711
# companding flips scattered marginal bits and a short fingerprint can
# lack ANY clean adjacent frame pair; at 30 hashes the measured strict
# re-encode collision rate is 100 % (tests/test_audio_fp.py)
N_SAMPLES = 16384  # per-clip PCM length for the near-dup corpus
SR_HZ = 8000
WIN = 1024
HOP = 512
N_BANDS = 16
BITS = N_BANDS - 1  # 15 bits per frame transition
N_FRAMES = 1 + (N_SAMPLES - WIN) // HOP  # 31
N_HASHES = N_FRAMES - 1  # 30

# -- synthetic corpus (deterministic; groups of 3 re-encodes per base) ------
VARIANT_CODECS = ("flac", "wav", "pcm_mulaw")
VARIANT_GAINS = (1.0, 0.85, 1.15)  # fingerprint is gain-invariant
FP_AMP = 18000.0
NOISE_AMP = 900.0  # planted broadband floor ≫ G.711 companding noise
N_COMPONENTS = 4

_BAND_EDGES = np.unique(
    np.round(np.geomspace(4, WIN // 2, N_BANDS + 1)).astype(np.int64)
)
assert len(_BAND_EDGES) == N_BANDS + 1
_HANN = np.hanning(WIN)


def synth_near_dup_pcm(
    bases: np.ndarray,
    starts: np.ndarray | None = None,
    length: int | None = None,
) -> np.ndarray:
    """(n, N_SAMPLES) float PCM (int16 scale) for content-group ids.

    Non-stationary by construction — per-component linear chirps and
    amplitude ramps keyed by the base id — so fingerprint bits vary across
    frames and codec noise cannot flip the same marginal bit in every
    frame. A deterministic broadband noise floor dominates companding
    noise in bands with no tonal component, keeping those bits stable
    across codec variants of the same base.

    ``starts``/``length``: per-row sample WINDOW — row i returns samples
    [starts[i], starts[i]+length) of clip bases[i], bit-identical to
    slicing the full clip (every op is elementwise in the sample axis and
    the chirp/ramp/noise formulas are closed-form in the absolute sample
    index; the ramp denominator stays the FULL clip duration). Windowed
    synthesis is what keeps snippet generation O(snippet) instead of
    O(clip) per row.
    """
    bases = np.asarray(bases, dtype=np.int64)
    n = len(bases)
    if starts is None:
        length = N_SAMPLES
        idx = np.arange(N_SAMPLES, dtype=np.int64)[None, :]
        t = (np.arange(N_SAMPLES, dtype=np.float64) / SR_HZ)[None, :]
    else:
        assert length is not None
        idx = (
            np.asarray(starts, dtype=np.int64)[:, None]
            + np.arange(length, dtype=np.int64)[None, :]
        )
        t = idx.astype(np.float64) / SR_HZ
    dur = float(N_SAMPLES - 1) / SR_HZ  # == t[-1] of the full grid
    # reused scratch buffers + in-place ops: this VM pays ~100 ms per
    # fresh-touched 40 MB allocation (datagen._scratch note), and a naive
    # broadcast expression allocates ~10 temporaries of (n × N_SAMPLES)
    out = _scratch("afp_out", (n, length))
    work = _scratch("afp_work", (n, length))
    out[:] = 0.0
    for k in range(N_COMPONENTS):
        f0 = 200.0 + 3300.0 * u01(bases, 60 + k)
        drift = (u01(bases, 65 + k) - 0.5) * 0.12 * f0  # ±6 % linear chirp
        a0 = 0.25 + 0.75 * u01(bases, 70 + k)
        a1 = 0.25 + 0.75 * u01(bases, 75 + k)
        # phase of a linear chirp: 2π (f0 t + drift t² / (2 dur)), built
        # in-place in `work`
        np.multiply((drift / (2.0 * dur))[:, None], t * t, out=work)
        work += f0[:, None] * t
        work *= 2.0 * np.pi
        np.sin(work, out=work)
        # linear amplitude ramp a0 → a1, folded in without a temporary
        work *= (a1 - a0)[:, None] * (t / dur) + a0[:, None]
        out += work
    out *= FP_AMP / N_COMPONENTS
    # per-sample deterministic noise floor (same for every variant of base)
    nz = u01((bases[:, None] * N_SAMPLES + idx).ravel(), 80).reshape(n, length)
    nz -= 0.5
    nz *= 2.0 * NOISE_AMP
    out += nz
    return out


def encode_variant(pcm: np.ndarray, variant: int) -> tuple[bytes, str]:
    """Quantize (with the variant's gain) and encode through a REAL codec."""
    from pyanomalydetector2_spark.operators.audio import encode_wav
    from pyanomalydetector2_spark.operators.flac_codec import encode_flac
    from pyanomalydetector2_spark.operators.g711 import encode_mulaw

    q = np.clip(np.round(pcm * VARIANT_GAINS[variant]), -32768, 32767)
    q16 = q.astype(np.int16)
    codec = VARIANT_CODECS[variant]
    if codec == "flac":
        return encode_flac(q16.astype(np.int64), SR_HZ), codec
    if codec == "wav":
        return encode_wav(q16, SR_HZ), codec
    return encode_mulaw(q16).tobytes(), codec


def decode_full(payload: bytes, codec: str) -> np.ndarray | None:
    """Full-length decode → float64 (int16 scale); None if undecodable.
    (audio.decode_pcm_batch truncates to the 512-sample validation head —
    fingerprinting needs the whole clip.)"""
    from pyanomalydetector2_spark.operators.audio import parse_wav
    from pyanomalydetector2_spark.operators.flac_codec import (
        FlacError,
        decode_flac,
    )
    from pyanomalydetector2_spark.operators.g711 import decode_alaw, decode_mulaw

    if payload is None or codec is None:
        return None
    if codec == "flac":
        try:
            samples, _ = decode_flac(bytes(payload))
        except FlacError:
            return None
        return samples[:, 0].astype(np.float64)
    if codec == "wav":
        wave = parse_wav(bytes(payload))
        return None if wave is None else np.asarray(wave, dtype=np.float64)
    if codec == "pcm_mulaw":
        return decode_mulaw(bytes(payload)).astype(np.float64)
    if codec == "pcm_alaw":
        return decode_alaw(bytes(payload)).astype(np.float64)
    if codec == "pcm_s16le":
        return np.frombuffer(bytes(payload), dtype="<i2").astype(np.float64)
    return None


def fingerprint(pcm: np.ndarray) -> np.ndarray | None:
    """One clip's fingerprint: (N_HASHES,) int32 frame-transition hashes,
    or None if the clip is shorter than the frame grid."""
    if pcm is None or len(pcm) < N_SAMPLES:
        return None
    return fingerprint_any(pcm[:N_SAMPLES])


def fingerprint_any(pcm: np.ndarray) -> np.ndarray | None:
    """Variable-length fingerprint: the same frame grid and hash algebra
    as `fingerprint` without the fixed N_SAMPLES gate — floor((len-WIN)/
    HOP)+1 frames → one fewer transition hashes. Because the hashes are
    LOCAL (each depends on two adjacent frames only), a snippet sliced at
    a HOP-aligned sample offset o·HOP of a clip reproduces exactly that
    clip's transition hashes o, o+1, … — the property snippet_search's
    offset alignment rides on. None below two frames (no transition)."""
    if pcm is None or len(pcm) < WIN + HOP:
        return None
    frames = np.lib.stride_tricks.sliding_window_view(pcm, WIN)[::HOP] * _HANN
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    # inclusive band sums over log-spaced bin edges
    e = np.add.reduceat(spec, _BAND_EDGES[:-1], axis=1)  # (n_frames, N_BANDS)
    d = np.diff(e, axis=1)  # band difference     (n_frames, BITS)
    dd = np.diff(d, axis=0)  # time difference     (n_hashes, BITS)
    bits = (dd > 0).astype(np.int64)
    return (bits << np.arange(BITS)[None, :]).sum(axis=1).astype(np.int32)


EMBED_DIMS = 2 * N_BANDS  # per-band log-energy mean + std over time


def embed_metrics(pcm: np.ndarray) -> np.ndarray | None:
    """Deterministic spectral embedding of a clip: per-band log-energy
    mean and std over the fingerprint's own frame grid — (32,) float64.
    The audio analog of ``text.text_embed``: it lets the whole ANN /
    cosine near-dup stack run on corpora that arrive WITHOUT vectors.

    Gain-robust by construction: a gain g scales every band energy by g²,
    which in the log domain is a constant additive shift — subtracting
    the clip's global log-energy mean removes it (exactly in the
    e ≫ 1 regime; int16-scale window energies are ~1e8, so the +1
    log floor is noise-level). The std block is shift-invariant already.
    Unlike the fingerprint (sign bits, for banded candidate generation)
    the embedding keeps magnitudes, so cosine ranks HOW similar two
    clips are — the two are complementary, not redundant."""
    if pcm is None or len(pcm) < WIN + HOP:
        return None
    frames = np.lib.stride_tricks.sliding_window_view(pcm, WIN)[::HOP] * _HANN
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    e = np.add.reduceat(spec, _BAND_EDGES[:-1], axis=1)
    le = np.log(e + 1.0)
    le = le - le.mean()
    return np.concatenate([le.mean(axis=0), le.std(axis=0)])


def quality_metrics(pcm: np.ndarray) -> tuple | None:
    """Deterministic per-clip audio quality metrics over decoded PCM
    (int16 scale) — the audio analog of text.token_metrics for a
    training-data pipeline: level, clipping, silence, and spectral-ish
    activity, each a cheap vectorized reduction.

    Returns (n_samples, rms_db, peak, clipping_ratio, silence_ratio, zcr):
    - rms_db: 20·log10(rms / 32768), −200.0 for digital silence;
    - peak: max |x| / 32768;
    - clipping_ratio: share of samples at full scale (|x| ≥ 32767);
    - silence_ratio: share of samples below 1 % full scale;
    - zcr: zero-crossing rate (sign products < 0) over n−1 transitions.
    """
    if pcm is None or len(pcm) == 0:
        return None
    x = np.asarray(pcm, dtype=np.float64)
    n = len(x)
    rms = float(np.sqrt(np.mean(x * x)))
    rms_db = 20.0 * np.log10(rms / 32768.0) if rms > 0 else -200.0
    peak = float(np.max(np.abs(x))) / 32768.0
    clipping = float(np.mean(np.abs(x) >= 32767.0))
    silence = float(np.mean(np.abs(x) < 327.68))
    zcr = float(np.mean(x[:-1] * x[1:] < 0)) if n > 1 else 0.0
    return (n, float(rms_db), peak, clipping, silence, zcr)


# -- Spark operators --------------------------------------------------------

FP_SCHEMA = "id long, frames array<int>"
QUALITY_SCHEMA = (
    "id long, n_samples long, rms_db double, peak double, "
    "clipping_ratio double, silence_ratio double, zcr double"
)


def audio_quality(
    df: DataFrame,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Per-clip quality metrics for every decodable clip — decode + metric
    reductions fused in one Arrow-batched pass (same shape as
    ``audio_fingerprints``: ``bytes`` never crosses a shuffle).
    Undecodable clips are dropped; the suite's decode check owns them."""
    cols = df.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("payload"),
        F.col(codec_col).alias("codec"),
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [
            "n_samples", "rms_db", "peak",
            "clipping_ratio", "silence_ratio", "zcr",
        ]
        for pdf in it:
            out: dict[str, list] = {"id": []}
            for c in names:
                out[c] = []
            for i, payload, codec in zip(
                pdf["id"], pdf["payload"], pdf["codec"]
            ):
                m = quality_metrics(decode_full(payload, codec))
                if m is None:
                    continue
                out["id"].append(i)
                for c, v in zip(names, m):
                    out[c].append(v)
            yield pd.DataFrame(
                {
                    "id": pd.array(out["id"], dtype="int64"),
                    "n_samples": pd.array(out["n_samples"], dtype="int64"),
                    **{
                        c: pd.array(out[c], dtype="float64")
                        for c in names[1:]
                    },
                }
            )

    return cols.mapInPandas(gen, schema=QUALITY_SCHEMA)


def audio_fingerprints(
    df: DataFrame,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
    fp_fn=fingerprint,
) -> DataFrame:
    """(id, frames) fingerprints for every decodable clip — decode +
    fingerprint fused in ONE Arrow-batched pass so ``bytes`` never crosses
    a shuffle. Undecodable/short clips are dropped (they cannot be
    near-dups; the validation suite's decode check owns flagging them).
    ``fp_fn``: the per-clip kernel — `fingerprint` (fixed grid, the
    near-dup corpus) or `fingerprint_any` (variable length, snippets)."""
    cols = df.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("payload"),
        F.col(codec_col).alias("codec"),
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frames = [], []
            for i, payload, codec in zip(
                pdf["id"], pdf["payload"], pdf["codec"]
            ):
                fp = fp_fn(decode_full(payload, codec))
                if fp is not None:
                    ids.append(i)
                    frames.append(fp.tolist())
            # explicit dtypes: an all-dropped batch otherwise yields empty
            # float64 columns, which Arrow cannot convert to list<int>
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64"),
                    "frames": pd.Series(frames, dtype="object"),
                }
            )

    return cols.mapInPandas(gen, schema=FP_SCHEMA)


EMBED_SCHEMA = "id long, embedding array<double>"


def audio_embed(
    df: DataFrame,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """(id, embedding) spectral embeddings for every decodable clip —
    decode + embed fused in ONE Arrow-batched pass (the
    ``audio_fingerprints`` shape: ``bytes`` never crosses a shuffle).
    Undecodable/short clips are dropped; the suite's decode check owns
    them. Feed the result to ``similarity``'s cosine / IVF / PQ stack."""
    cols = df.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("payload"),
        F.col(codec_col).alias("codec"),
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, vecs = [], []
            for i, payload, codec in zip(
                pdf["id"], pdf["payload"], pdf["codec"]
            ):
                v = embed_metrics(decode_full(payload, codec))
                if v is not None:
                    ids.append(i)
                    vecs.append(v.tolist())
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64"),
                    "embedding": pd.Series(vecs, dtype="object"),
                }
            )

    return cols.mapInPandas(gen, schema=EMBED_SCHEMA)


INGEST_GATE_SCHEMA = (
    "id long, codec string, container string, probe_failed boolean, "
    "dur_mismatch boolean, sr_mismatch boolean, frames array<int>"
)


def ingest_gate_fingerprints(
    df: DataFrame,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
    dur_col: str = "dur_ms",
    sr_col: str = "sr_hz",
    dur_tol_ms: int = 50,
) -> DataFrame:
    """The streaming-ingest hot path fused into ONE Arrow pass: container
    consistency gate (same semantics as
    ``multimodal.with_consistency_fields``: mismatch flags are
    vacuous-False when the container carries no evidence) + decode +
    spectral fingerprint. Fusing matters because ``bytes`` dominates the
    batch — composed operators each pull the payload column across the
    JVM→Python boundary, the fused pass pulls it exactly once and emits
    only the small gate/fingerprint columns (``frames`` is NULL for
    gate-failed or undecodable clips). One row out per row in, so the
    quarantine split and the fingerprint frame are cheap filters over one
    materialization."""
    from pyanomalydetector2_spark.operators.multimodal import (
        _consistency_probe,
    )

    cols = df.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("payload"),
        F.col(codec_col).alias("codec"),
        F.col(dur_col).cast("long").alias("dur_ms"),
        F.col(sr_col).cast("long").alias("sr_hz"),
    )
    tol = int(dur_tol_ms)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("id", "codec", "container",
                                   "probe_failed", "dur_mismatch",
                                   "sr_mismatch", "frames")}
            for i, payload, codec, dur_ms, sr_hz in zip(
                pdf["id"], pdf["payload"], pdf["codec"],
                pdf["dur_ms"], pdf["sr_hz"],
            ):
                container, csr, samples, srate, ok = _consistency_probe(
                    payload, codec
                )
                # NULL declared metadata is missing evidence, not a
                # mismatch (vacuous False — with_consistency_fields' SQL
                # null semantics): one malformed row must quarantine on
                # its own flags, never crash the whole Arrow batch
                if sr_hz is None or pd.isna(sr_hz):
                    sr_hz = None
                if dur_ms is None or pd.isna(dur_ms):
                    dur_ms = None
                rate = srate if srate is not None else sr_hz
                dur_bad = (
                    samples is not None
                    and rate
                    and dur_ms is not None
                    and abs(int(dur_ms) - samples * 1000 // int(rate)) > tol
                )
                sr_bad = (
                    csr is not None
                    and sr_hz is not None
                    and csr != sr_hz
                )
                frames = None
                if ok and not dur_bad and not sr_bad:
                    fp = fingerprint(decode_full(payload, codec))
                    frames = fp.tolist() if fp is not None else None
                out["id"].append(i)
                out["codec"].append(codec)
                out["container"].append(container)
                out["probe_failed"].append(not ok)
                out["dur_mismatch"].append(bool(dur_bad))
                out["sr_mismatch"].append(bool(sr_bad))
                out["frames"].append(frames)
            yield pd.DataFrame(
                {
                    "id": pd.array(out["id"], dtype="int64"),
                    "codec": pd.array(out["codec"], dtype="object"),
                    "container": pd.array(out["container"], dtype="object"),
                    "probe_failed": pd.array(
                        out["probe_failed"], dtype="bool"
                    ),
                    "dur_mismatch": pd.array(
                        out["dur_mismatch"], dtype="bool"
                    ),
                    "sr_mismatch": pd.array(out["sr_mismatch"], dtype="bool"),
                    "frames": pd.Series(out["frames"], dtype="object"),
                }
            )

    return cols.mapInPandas(gen, schema=INGEST_GATE_SCHEMA)


def fp_banded(fp_df: DataFrame) -> DataFrame:
    """(id, band, key): band i's key = frame hashes i,i+1 packed into 30
    bits (adjacent family), plus skip-gram bands pairing hashes i,i+2
    (distinct band namespace) — a near-dup whose middle frame caught a
    marginal-bit flip still collides on the skip key. Exact 30-bit
    agreement on SOME band is the candidate condition. Pure JVM array
    ops, no Python."""
    adj = (
        "transform(sequence(0, size(frames) - 2), "
        "i -> struct(i AS band, frames[i] * 32768 + frames[i + 1] AS key))"
    )
    skip = (
        "transform(sequence(0, size(frames) - 3), "
        "i -> struct(size(frames) - 1 + i AS band, "
        "frames[i] * 32768 + frames[i + 2] AS key))"
    )
    return fp_df.select(
        "id",
        F.explode(F.expr(f"concat({adj}, {skip})")).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _hamming_rerank(
    pairs: DataFrame, fp_df: DataFrame, threshold: float
) -> DataFrame:
    """JVM-side Hamming re-rank of candidate (id_a, id_b) pairs against a
    (id, frames) fingerprint frame: sim = 1 − hamming/total bits, rounded
    to 6, filtered to ``threshold``. ``zip_with`` + ``bit_count`` inside
    codegen — no Python in the pair loop."""
    fa = fp_df.select(F.col("id").alias("id_a"), F.col("frames").alias("fa"))
    fb = fp_df.select(F.col("id").alias("id_b"), F.col("frames").alias("fb"))
    # single-division algebra (x / (BITS * n)) so the DuckDB oracle's
    # hd / (15.0 * nf) is bit-identical — two chained divisions can differ
    # in the last ulp and flip a round(…, 6)
    sim = F.round(
        F.lit(1.0)
        - F.expr(
            "aggregate(zip_with(fa, fb, (x, y) -> bit_count(x ^ y)), "
            "0, (acc, v) -> acc + v)"
        )
        / (F.lit(float(BITS)) * F.size("fa")),
        6,
    )
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def audio_near_dup_pairs(
    fp_df: DataFrame,
    threshold: float = 0.85,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """(id_a, id_b, sim) near-duplicate pairs over fingerprints: capped
    banded candidate generation (shared ``pairs_from_banded``) + JVM-side
    Hamming re-rank (sim = 1 − hamming/total bits, rounded to 6)."""
    from pyanomalydetector2_spark.operators.dedup import pairs_from_banded

    pairs = pairs_from_banded(fp_banded(fp_df), max_bucket_size)
    return _hamming_rerank(pairs, fp_df, threshold)


def audio_near_dup(
    clips_df: DataFrame,
    threshold: float = 0.85,
    max_bucket_size: int | None = 10_000,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """End-to-end: decode → fingerprint → banded candidates → Hamming
    re-rank. The fingerprint frame is computed ONCE and persisted (the
    shingle-frame pattern, ngram_jaccard_pairs): it feeds banding plus
    both re-rank joins, and recomputing it means re-decoding the audio —
    the most expensive step in the pipeline. Fingerprint rows are ~30
    bytes/clip, so the persist is disk-spillable even at corpus scale;
    at the 10^12 tier you'd materialize them to a table instead (the
    persisted-IVF-index pattern, similarity.ivf_assignments)."""
    fp = audio_fingerprints(clips_df, id_col, payload_col, codec_col).persist()
    return audio_near_dup_pairs(fp, threshold, max_bucket_size)


def audio_near_dup_incremental(
    clips_df: DataFrame,
    new_clips_df: DataFrame,
    index_fp: DataFrame | None = None,
    index_banded: DataFrame | None = None,
    threshold: float = 0.85,
    max_bucket_size: int | None = 10_000,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Incremental audio near-dup ingest: pairs touching at least one NEW
    clip, WITHOUT re-decoding the corpus — the audio analog of
    ``dedup.near_dup_jaccard_incremental``. Decode (the most expensive step
    in this pipeline: real FLAC/WAV/G.711 bitstream work) runs ONLY on the
    batch; the corpus contributes its stored fingerprint index.

    - ``new_clips_df``: the newly ingested batch (clips-shaped).
    - ``index_fp``: the stored (id, frames) fingerprint table of the
      existing corpus (``audio_fingerprints`` materialized across runs,
      e.g. via a SnapshotTable). Must NOT contain the batch. When None it
      is computed from ``clips_df`` minus the batch (testing convenience —
      that path re-decodes the corpus once).
    - ``index_banded``: optionally the PRE-BANDED (id, band, key) index
      (``fp_banded(index_fp)`` stored partitioned by band — the production
      10^12-tier layout, same as the MinHash side): the per-batch cost is
      then one scan of the banded table, no index-wide re-band shuffle.

    Candidate generation rides the shared ``incremental_pairs_from_banded``
    probe (broadcast semi join on the batch's key set prunes the index scan
    BEFORE any bucket aggregation; hot buckets capped pre-materialization);
    the Hamming re-rank reads index fingerprints only for pair members
    (semi-join prune), so every stage is batch-proportional."""
    fp_new = audio_fingerprints(
        new_clips_df, id_col, payload_col, codec_col
    ).persist()
    if index_fp is None:
        old = clips_df.join(new_clips_df.select(id_col), id_col, "left_anti")
        # persist: the index frame is consumed twice (banding + re-rank) and
        # its lineage here contains the corpus decode — without the persist
        # the convenience path decodes the corpus once per consumer
        index_fp = audio_fingerprints(
            old, id_col, payload_col, codec_col
        ).persist()
    return fp_near_dup_against_index(
        fp_new, index_fp, index_banded, threshold, max_bucket_size
    )


def fp_near_dup_against_index(
    fp_new: DataFrame,
    index_fp: DataFrame,
    index_banded: DataFrame | None = None,
    threshold: float = 0.85,
    max_bucket_size: int | None = 10_000,
    banded_new: DataFrame | None = None,
    broadcast_keys: bool = True,
    prune: bool = True,
) -> DataFrame:
    """Probe core of ``audio_near_dup_incremental``: pairs
    touching at least one fingerprint from ``fp_new``, given the already
    computed batch fingerprints and the stored corpus index. Every stage
    is batch-proportional (key prune before any bucket aggregation;
    re-rank reads index fingerprints only for pair members).
    ``banded_new``: pass the batch's already-materialized banding to skip
    the recompute — a caller that also persists the bands (appending
    them to the index) then bands the batch exactly once.
    ``broadcast_keys`` / ``prune``: prune strategy, see
    ``dedup.incremental_pairs_from_banded`` — broadcast the key set for
    small batches, shuffled semi once the batch key set outgrows a
    driver round-trip, and no prune at all while index ≲ batch."""
    from pyanomalydetector2_spark.operators.dedup import (
        incremental_pairs_from_banded,
    )

    if index_banded is None:
        index_banded = fp_banded(index_fp)
    if banded_new is None:
        banded_new = fp_banded(fp_new).localCheckpoint()
    pairs = incremental_pairs_from_banded(
        index_banded, banded_new, max_bucket_size, broadcast_keys, prune
    ).localCheckpoint()
    # re-rank fingerprints: the batch's fresh frame plus index rows pruned
    # to pair members — never the whole index, never the corpus audio
    # broadcast the pair-member id set: it is bounded by 2× the emitted
    # pairs (batch-proportional under the bucket cap), while the right
    # side contains the WHOLE index — a shuffled semi here would shuffle
    # the index by id every batch
    ids = F.broadcast(
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # dropDuplicates AFTER the semi prune: the index may legitimately
    # contain the batch's own ids when a replayed batch's fp delta
    # already landed (crash between a streaming batch's index writes) —
    # a duplicate (id, frames) member row would multiply the re-rank
    # join and emit every pair twice. Frames are a deterministic
    # function of the clip, so the dedup is exact; it shuffles only the
    # pair-member rows (bounded by 2× pairs), never the index.
    fp_members = (
        fp_new.select("id", "frames")
        .union(index_fp.select("id", "frames"))
        .join(ids, "id", "semi")
        .dropDuplicates(["id"])
    )
    return _hamming_rerank(pairs, fp_members, threshold)


def audio_fp_bucket_stats(
    fp_df: DataFrame, max_bucket_size: int | None = 10_000
) -> DataFrame:
    """Per-(band, key) bucket sizes with the ``dropped`` flag — the same
    audit contract as the text/embedding LSH paths."""
    from pyanomalydetector2_spark.operators.dedup import bucket_stats_from_banded

    return bucket_stats_from_banded(fp_banded(fp_df), max_bucket_size)


# -- contract-corpus synthesis ---------------------------------------------

CORPUS_SCHEMA = "clip_id long, bytes binary, codec string"


def synth_corpus(spark: SparkSession, ids_df: DataFrame) -> DataFrame:
    """Clips-shaped corpus keyed by an id column: clip i carries content
    group i//3 re-encoded through codec variant i%3 (FLAC / WAV gain 0.85 /
    μ-law gain 1.15) — consecutive id triples are planted near-dups.

    Repartitioned to the session's parallelism: synth + encode is pure
    per-row CPU, and the id source is typically a single parquet file
    (one input split) that would otherwise serialize the whole corpus."""
    ids = ids_df.select(F.col(ids_df.columns[0]).cast("long").alias("clip_id"))
    par = ids_df.sparkSession.sparkContext.defaultParallelism
    ids = ids.repartition(par, "clip_id")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # small synth chunks keep the reused scratch buffers ~2 MB: the
        # host serializes fresh page allocation across worker processes,
        # so N workers × 40 MB first-touch would serialize into seconds
        for pdf in it:
            cid = pdf["clip_id"].to_numpy(dtype=np.int64)
            for start in range(0, len(cid), 64):
                cc = cid[start : start + 64]
                bases, variants = cc // 3, cc % 3
                pcm = synth_near_dup_pcm(bases)
                rows = [encode_variant(pcm[i], int(variants[i]))
                        for i in range(len(cc))]
                yield pd.DataFrame(
                    {
                        "clip_id": cc,
                        "bytes": [b for b, _ in rows],
                        "codec": [c for _, c in rows],
                    }
                )

    return ids.mapInPandas(gen, schema=CORPUS_SCHEMA)


# -- silence trim points (curation) ------------------------------------------

TRIM_FRAME = 512  # non-overlapping trim analysis blocks


def trim_metrics(
    pcm: np.ndarray, top_db: float = 40.0, frame: int = TRIM_FRAME
) -> tuple | None:
    """Leading/trailing low-energy trim points of one clip — the
    librosa-style relative-threshold trim (librosa.effects.trim): a frame
    is active iff its RMS exceeds peak_frame_rms · 10^(−top_db/20), so
    the verdict is gain-invariant (a mastering-level change moves signal
    and threshold together).

    Returns (n_frames, lead_frames, trail_frames) over non-overlapping
    ``frame``-sample blocks; an all-quiet clip reports (n, n, 0). None if
    shorter than one frame."""
    if pcm is None or len(pcm) < frame:
        return None
    n = len(pcm) // frame
    fr = np.asarray(pcm[: n * frame], dtype=np.float64).reshape(n, frame)
    rms = np.sqrt(np.mean(fr * fr, axis=1))
    thr = float(rms.max()) * (10.0 ** (-top_db / 20.0))
    act = np.nonzero(rms > thr)[0]
    if len(act) == 0:
        return (n, n, 0)
    return (n, int(act[0]), int(n - 1 - act[-1]))


TRIM_SCHEMA = "id long, n_frames int, lead_frames int, trail_frames int"


def audio_trim(
    df: DataFrame,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
    top_db: float = 40.0,
) -> DataFrame:
    """Per-clip silence trim points — decode + frame-RMS scan fused in one
    Arrow pass (the same never-shuffle-bytes shape as audio_quality), plus
    derived ms and active-span columns. The curation decision a speech
    corpus runs before token-budget packing: how much leading/trailing
    dead air each clip carries."""
    cols = df.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("payload"),
        F.col(codec_col).alias("codec"),
    )

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict = {k: [] for k in ("id", "n_frames", "lead_frames",
                                         "trail_frames")}
            for i, payload, codec in zip(
                pdf["id"], pdf["payload"], pdf["codec"]
            ):
                t = trim_metrics(decode_full(payload, codec), top_db=top_db)
                if t is not None:
                    out["id"].append(i)
                    out["n_frames"].append(t[0])
                    out["lead_frames"].append(t[1])
                    out["trail_frames"].append(t[2])
            yield pd.DataFrame(
                {
                    "id": pd.array(out["id"], dtype="int64"),
                    "n_frames": pd.array(out["n_frames"], dtype="int32"),
                    "lead_frames": pd.array(
                        out["lead_frames"], dtype="int32"
                    ),
                    "trail_frames": pd.array(
                        out["trail_frames"], dtype="int32"
                    ),
                }
            )

    base = cols.mapInPandas(gen, schema=TRIM_SCHEMA)
    return _trim_select(base)


def _trim_select(base: DataFrame) -> DataFrame:
    """Shared derived-columns tail of audio_trim / synth_padded_trim."""
    active = F.col("n_frames") - F.col("lead_frames") - F.col("trail_frames")
    ms = 1000.0 / SR_HZ * TRIM_FRAME
    return base.select(
        "id",
        "n_frames",
        "lead_frames",
        "trail_frames",
        F.round(F.col("lead_frames") * ms, 6).alias("lead_ms"),
        F.round(F.col("trail_frames") * ms, 6).alias("trail_ms"),
        F.round(F.try_divide(active, F.col("n_frames")), 6).alias(
            "active_ratio"
        ),
    )


PAD_LEAD_MOD = 17  # lead pad frames = (id·3) mod 17
PAD_TRAIL_MOD = 13  # trail pad frames = (id·5) mod 13


def synth_padded_corpus(
    spark: SparkSession, ids_df: DataFrame, partitions: int | None = None
) -> DataFrame:
    """Clips with PLANTED dead air: clip q = (q·3 mod 17) zero frames +
    the seed-q synth content (N_SAMPLES) + (q·5 mod 13) zero frames,
    losslessly WAV-encoded. The pads are frame-aligned and exactly zero,
    so `audio_trim` must recover lead/trail in closed form — the DuckDB
    oracle is pure id arithmetic while Spark measures real decoded
    bytes."""
    from pyanomalydetector2_spark.operators.audio import encode_wav

    ids = ids_df.select(F.col(ids_df.columns[0]).cast("long").alias("clip_id"))
    # ``partitions``: callers materializing the corpus to parquet pass a
    # count that keeps rows-per-file small — a ~34 KB binary payload ×
    # thousands of rows in one columnar read batch otherwise exhausts the
    # vectorized parquet reader's buffer (guide §5: bound per-task state)
    par = partitions or ids_df.sparkSession.sparkContext.defaultParallelism

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            cid = pdf["clip_id"].to_numpy(dtype=np.int64)
            for start in range(0, len(cid), 64):
                cc = cid[start : start + 64]
                pcm = synth_near_dup_pcm(cc)
                payloads = []
                for i in range(len(cc)):
                    q = int(cc[i])
                    lead = (q * 3) % PAD_LEAD_MOD * TRIM_FRAME
                    trail = (q * 5) % PAD_TRAIL_MOD * TRIM_FRAME
                    q16 = np.zeros(
                        lead + N_SAMPLES + trail, dtype=np.int16
                    )
                    q16[lead : lead + N_SAMPLES] = np.clip(
                        np.round(pcm[i]), -32768, 32767
                    ).astype(np.int16)
                    payloads.append(encode_wav(q16, SR_HZ))
                yield pd.DataFrame(
                    {
                        "clip_id": cc,
                        "bytes": payloads,
                        "codec": ["wav"] * len(cc),
                    }
                )

    return ids.repartition(par, "clip_id").mapInPandas(
        gen, schema=CORPUS_SCHEMA
    )


def synth_padded_trim(
    spark: SparkSession, ids_df: DataFrame, top_db: float = 40.0
) -> DataFrame:
    """``audio_trim(synth_padded_corpus(ids))`` fused into ONE Arrow pass
    (optimization r06, guide §4): the composed shape ships every padded
    WAV payload Python → JVM → Python (~34 KB × N clips across the Arrow
    boundary twice) just to hand the bytes straight back to the trim
    kernel. Here each clip is synthesized, WAV-encoded, decoded back and
    RMS-scanned inside one task loop — the SAME ``encode_wav`` /
    ``decode_full`` / ``trim_metrics`` calls on the same bytes, so the
    output frame is row-identical to the composed pipeline (pytest-pinned)
    and the payload never crosses a process boundary. Same fusion idiom as
    the decode→fingerprint→quality→embed corpus pass."""
    ids = ids_df.select(F.col(ids_df.columns[0]).cast("long").alias("clip_id"))
    par = ids_df.sparkSession.sparkContext.defaultParallelism

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyanomalydetector2_spark.operators.audio import encode_wav

        for pdf in it:
            cid = pdf["clip_id"].to_numpy(dtype=np.int64)
            out: dict = {k: [] for k in ("id", "n_frames", "lead_frames",
                                         "trail_frames")}
            for start in range(0, len(cid), 64):
                cc = cid[start : start + 64]
                pcm = synth_near_dup_pcm(cc)
                for i in range(len(cc)):
                    q = int(cc[i])
                    lead = (q * 3) % PAD_LEAD_MOD * TRIM_FRAME
                    trail = (q * 5) % PAD_TRAIL_MOD * TRIM_FRAME
                    q16 = np.zeros(lead + N_SAMPLES + trail, dtype=np.int16)
                    q16[lead : lead + N_SAMPLES] = np.clip(
                        np.round(pcm[i]), -32768, 32767
                    ).astype(np.int16)
                    t = trim_metrics(
                        decode_full(encode_wav(q16, SR_HZ), "wav"),
                        top_db=top_db,
                    )
                    if t is not None:
                        out["id"].append(q)
                        out["n_frames"].append(t[0])
                        out["lead_frames"].append(t[1])
                        out["trail_frames"].append(t[2])
            yield pd.DataFrame(
                {
                    "id": pd.array(out["id"], dtype="int64"),
                    "n_frames": pd.array(out["n_frames"], dtype="int32"),
                    "lead_frames": pd.array(out["lead_frames"], dtype="int32"),
                    "trail_frames": pd.array(
                        out["trail_frames"], dtype="int32"
                    ),
                }
            )

    base = ids.repartition(par, "clip_id").mapInPandas(
        gen, schema=TRIM_SCHEMA
    )
    return _trim_select(base)


# -- snippet search (query-by-audio) ----------------------------------------

SNIPPET_FRAMES = 9  # 5120 samples (0.64 s @ 8 kHz): 9 frames → 8 hashes
SNIPPET_SAMPLES = WIN + (SNIPPET_FRAMES - 1) * HOP
PAIR_KEY_BASE = 1 << BITS  # adjacent-hash pair key = h_i · 2^15 + h_{i+1}


def _pair_keys(fp_df: DataFrame, id_name: str, pos_name: str) -> DataFrame:
    """(id, pos, key) rows: key i pairs transition hashes (i, i+1) — the
    SAME adjacency algebra as fp_banded's banding, reused as the alignment
    anchor. 30 bits of key space vs 15 per single hash keeps the join off
    the degenerate hot keys a 15-bit equi-join would hit at scale."""
    f = F.col("frames")
    n = F.greatest(F.size(f) - 1, F.lit(0))
    keys = F.zip_with(
        F.slice(f, 1, n),
        F.slice(f, 2, n),
        lambda a, b: a.cast("long") * PAIR_KEY_BASE + b,
    )
    return fp_df.select(
        F.col("id").alias(id_name), F.posexplode(keys).alias(pos_name, "key")
    )


def snippet_search(
    corpus: DataFrame,
    snippets: DataFrame,
    id_col: str = "clip_id",
    qid_col: str = "qid",
    min_matched: int = 4,
) -> DataFrame:
    """Query-by-audio: find every (snippet, clip, frame offset) where the
    snippet's spectral fingerprint aligns inside the clip's — the
    Wang-2003 (Shazam) constellation-alignment shape on this module's
    frame-transition hashes.

    Both sides run the fused decode→fingerprint Arrow pass; matching is
    pure DataFrame algebra: adjacent-hash pair keys on each side, a
    broadcast join on the key (queries are the small side by usage — the
    corpus' exploded keys NEVER shuffle), then one groupBy on
    (qid, clip_id, offset = corpus_pos − snippet_pos) counting aligned
    key hits. A genuine content hit matches nearly all of the snippet's
    keys at ONE offset; chance 30-bit collisions are scattered across
    offsets and die at ``min_matched``.

    Output: (qid, clip_id, offset, n_matched, match_frac) with
    n_matched ≥ min_matched; offset is in frame hops (× HOP samples).

    Scale: corpus cost is the one decode pass plus a map-side broadcast
    join — rows that match no query key are dropped before the single
    narrow shuffle (the groupBy). For a standing corpus, store
    `snippet_index(corpus)` once and probe it with
    `snippet_search_index` — then the corpus is never re-decoded and a
    probe is scan + broadcast join only (the audio analog of
    similarity.py's stored IVF index).
    """
    ck = snippet_index(corpus, id_col)
    return snippet_search_index(ck, snippets, qid_col, min_matched)


def snippet_index(corpus: DataFrame, id_col: str = "clip_id") -> DataFrame:
    """(clip_id, i, key) pair-key index of a clip corpus — decode +
    fingerprint + key expansion in one pass, N_HASHES−1 narrow rows per
    clip. Write it to parquet once; every later snippet probe reads the
    index instead of re-decoding the corpus."""
    return _pair_keys(audio_fingerprints(corpus, id_col), "clip_id", "i")


def snippet_search_index(
    index: DataFrame,
    snippets: DataFrame,
    qid_col: str = "qid",
    min_matched: int = 4,
) -> DataFrame:
    """`snippet_search` against a stored `snippet_index` frame: the
    snippets decode fresh (they are the new, small side); the corpus side
    is a plain columnar scan of (clip_id, i, key)."""
    sfp = audio_fingerprints(snippets, qid_col, fp_fn=fingerprint_any)
    sk = _pair_keys(sfp, "qid", "j")
    n_keys = sfp.select(
        F.col("id").alias("qid"),
        F.greatest(F.size("frames") - 1, F.lit(0)).alias("n_keys"),
    )
    hits = (
        index.join(F.broadcast(sk), "key")
        .withColumn("offset", F.col("i") - F.col("j"))
        .groupBy("qid", "clip_id", "offset")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .filter(F.col("n_matched") >= min_matched)
    )
    return hits.join(F.broadcast(n_keys), "qid").select(
        "qid",
        "clip_id",
        "offset",
        "n_matched",
        F.round(F.try_divide("n_matched", "n_keys"), 6).alias("match_frac"),
    )


def synth_snippets(
    spark: SparkSession,
    ids_df: DataFrame,
    n_corpus: int,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic snippet corpus keyed by a query-id column: snippet q
    is a HOP-aligned slice of the decoded PCM of clip seed

        src(q) = (q·7) mod n_corpus                       (q even — planted hit)
               = n_corpus + (q mod (ORACLE_FP_SEEDS − n_corpus))   (q odd —
                 real audio that is NOT in the corpus: a seed past the
                 corpus cap, so the search must return nothing for it
                 beyond chance key collisions)

    at frame offset off(q) = (q·5) mod (N_FRAMES − SNIPPET_FRAMES + 1),
    re-encoded losslessly as WAV. Pure arithmetic of q on both sides: the
    DuckDB oracle rebuilds each snippet's hashes as rows off(q)…off(q)+7
    of the precomputed frames table for seed src(q), while Spark decodes
    the actual snippet bytes — agreement proves the real decode→
    fingerprint→align pipeline, not the plant.

    Generation avoids the per-snippet full-clip codec roundtrip the slice
    arithmetic makes redundant: synthesis runs WINDOWED (only the slice's
    samples, see synth_near_dup_pcm), and decode(encode(·)) collapses to
    its closed form — identity for the two LOSSLESS variants (FLAC, WAV)
    and the vectorized μ-law companding map for variant 2. Slice-of-
    roundtrip equals roundtrip-of-slice because quantization and
    companding are elementwise; byte-equality of the emitted WAV snippets
    against the encode→decode→slice path is pytest-pinned."""
    if not 0 < n_corpus < ORACLE_FP_SEEDS:
        raise ValueError(
            f"n_corpus must be in (0, {ORACLE_FP_SEEDS}) so negative "
            f"snippets have out-of-corpus seeds; got {n_corpus}"
        )
    from pyanomalydetector2_spark.operators.audio import encode_wav
    from pyanomalydetector2_spark.operators.g711 import (
        decode_mulaw,
        encode_mulaw,
    )

    ids = ids_df.select(F.col(ids_df.columns[0]).cast("long").alias("qid"))
    # ``partitions``: see synth_padded_corpus — callers materializing to
    # parquet pass a count that keeps binary rows-per-file small
    par = partitions or ids_df.sparkSession.sparkContext.defaultParallelism
    n_offsets = N_FRAMES - SNIPPET_FRAMES + 1
    gains = np.array(VARIANT_GAINS)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            q = pdf["qid"].to_numpy(dtype=np.int64)
            for start in range(0, len(q), 64):
                qq = q[start : start + 64]
                src = np.where(
                    qq % 2 == 0,
                    (qq * 7) % n_corpus,
                    n_corpus + (qq % (ORACLE_FP_SEEDS - n_corpus)),
                )
                off = (qq * 5) % n_offsets
                sl = synth_near_dup_pcm(
                    src // 3, starts=off * HOP, length=SNIPPET_SAMPLES
                )
                variants = src % 3
                q16 = np.clip(
                    np.round(sl * gains[variants][:, None]), -32768, 32767
                ).astype(np.int16)
                mu = variants == 2
                if mu.any():
                    q16[mu] = decode_mulaw(encode_mulaw(q16[mu]))
                payloads = [encode_wav(q16[i], SR_HZ) for i in range(len(qq))]
                yield pd.DataFrame(
                    {
                        "qid": qq,
                        "bytes": payloads,
                        "codec": ["wav"] * len(qq),
                    }
                )

    return ids.repartition(par, "qid").mapInPandas(
        gen, schema="qid long, bytes binary, codec string"
    )


# -- oracle precompute ------------------------------------------------------

# bump the version suffix on ANY change to synth/encode/decode/fingerprint/
# quality math — the cache must never serve results from older code
ORACLE_FP_DIR = "/tmp/pyad2_audio_fp_oracle_v4"
ORACLE_FP_SEEDS = 5000  # covers doc_id range at every shipped sf


def _ensure_oracle_tables(n_seeds: int, out_dir: str) -> tuple[str, str]:
    """Precompute BOTH oracle tables with plain numpy — the (seed,
    frame_idx, hash) fingerprint table AND the per-seed quality-metric
    table — in one synth→encode→DECODE pass (the same functions the Spark
    UDFs run), cached as parquet for the DuckDB oracle. Pure functions of
    the seed — regenerated only when absent."""
    fpath = os.path.join(out_dir, "frames.parquet")
    qpath = os.path.join(out_dir, "quality.parquet")
    if os.path.exists(fpath) and os.path.exists(qpath):
        return fpath, qpath
    os.makedirs(out_dir, exist_ok=True)
    seeds = np.arange(n_seeds, dtype=np.int64)
    bases, variants = seeds // 3, seeds % 3
    rows_seed, rows_frame, rows_hash = [], [], []
    qrows: list[tuple] = []
    for start in range(0, n_seeds, 128):
        sl = slice(start, min(start + 128, n_seeds))
        pcm = synth_near_dup_pcm(bases[sl])
        for j, s in enumerate(seeds[sl]):
            payload, codec = encode_variant(pcm[j], int(variants[sl][j]))
            dec = decode_full(payload, codec)
            fp = fingerprint(dec)
            rows_seed.extend([int(s)] * len(fp))
            rows_frame.extend(range(len(fp)))
            rows_hash.extend(int(h) for h in fp)
            qrows.append((int(s), *quality_metrics(dec)))
    pdf = pd.DataFrame(
        {
            "seed": np.array(rows_seed, dtype=np.int64),
            "frame_idx": np.array(rows_frame, dtype=np.int32),
            "hash": np.array(rows_hash, dtype=np.int32),
        }
    )
    qdf = pd.DataFrame(
        qrows,
        columns=[
            "seed", "n_samples", "rms_db", "peak",
            "clipping_ratio", "silence_ratio", "zcr",
        ],
    ).astype({"seed": np.int64, "n_samples": np.int64})
    for path, frame in ((fpath, pdf), (qpath, qdf)):
        tmp = path + ".tmp"
        frame.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return fpath, qpath


def silent_wav_clip() -> bytes:
    """A REAL RIFF/WAV payload of N_SAMPLES digitally-silent samples —
    the planted 'silent clip' for the cross-modal transcript checks.
    Goes through the same encode/decode machinery as every other clip,
    so Spark recovers its quality metrics from an actual container walk
    + PCM decode, never from a fixture."""
    from pyanomalydetector2_spark.operators.audio import encode_wav

    return encode_wav(np.zeros(N_SAMPLES, dtype=np.int16), SR_HZ)


def ensure_oracle_silent_quality(out_dir: str = ORACLE_FP_DIR) -> str:
    """Quality-metric oracle row for the silent clip, computed by the
    SAME decode→quality_metrics code the Spark executors run (the
    ensure_oracle_quality convention) and cached as a one-row parquet
    for the DuckDB replay."""
    path = os.path.join(out_dir, "silent_quality.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    m = quality_metrics(decode_full(silent_wav_clip(), "wav"))
    qdf = pd.DataFrame(
        [m],
        columns=[
            "n_samples", "rms_db", "peak",
            "clipping_ratio", "silence_ratio", "zcr",
        ],
    ).astype({"n_samples": np.int64})
    tmp = path + ".tmp"
    qdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return path


def ensure_oracle_embed(
    n_seeds: int = ORACLE_FP_SEEDS, out_dir: str = ORACLE_FP_DIR
) -> str:
    """(seed, embedding) spectral-embedding oracle table, computed by the
    SAME synth→encode→decode→embed_metrics code the Spark executors run
    and cached as parquet for the DuckDB replay (the
    ensure_oracle_quality convention — pure function of the seed)."""
    path = os.path.join(out_dir, "embed.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(out_dir, exist_ok=True)
    seeds = np.arange(n_seeds, dtype=np.int64)
    bases, variants = seeds // 3, seeds % 3
    rows: list[tuple[int, list[float]]] = []
    for start in range(0, n_seeds, 128):
        sl = slice(start, min(start + 128, n_seeds))
        pcm = synth_near_dup_pcm(bases[sl])
        for j, s in enumerate(seeds[sl]):
            payload, codec = encode_variant(pcm[j], int(variants[sl][j]))
            v = embed_metrics(decode_full(payload, codec))
            rows.append((int(s), v.tolist()))
    pdf = pd.DataFrame(rows, columns=["seed", "embedding"]).astype(
        {"seed": np.int64}
    )
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return path


def ensure_oracle_frames(
    n_seeds: int = ORACLE_FP_SEEDS, out_dir: str = ORACLE_FP_DIR
) -> str:
    return _ensure_oracle_tables(n_seeds, out_dir)[0]


def ensure_oracle_quality(
    n_seeds: int = ORACLE_FP_SEEDS, out_dir: str = ORACLE_FP_DIR
) -> str:
    return _ensure_oracle_tables(n_seeds, out_dir)[1]
