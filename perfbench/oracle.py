"""Closed-form expected violation counts for the generated clips tables.

Every planted violation in ``datagen/clips.py`` sits on a prime stride of
the row's *effective* id (the id whose content the row carries), so the
per-constraint violation counts of a set of generated row ids follow from
integer arithmetic alone. This module recomputes them without Spark, with
the same arithmetic as ``tests/test_clips_suite.py`` (the suite's oracle
test), and extends it to the hot-key skew knob, the codec -> sr_hz
functional dependency and the baseline reconcile check the benchmark
suites add.
"""

from __future__ import annotations

import zlib

import numpy as np

from pyanomalydetector2_spark.datagen.clips import (
    CODECS,
    SAMPLE_RATES,
    V_CODEC,
    V_DUP,
    V_EMPTY_T,
    V_MISMATCH,
    V_NULL_T,
    V_PCM,
    V_PII,
    V_RATE_HI,
    V_RATE_LO,
    V_SILENT,
    V_SR,
    clip_id_of,
    u01,
)


def effective_ids(
    ids: np.ndarray, planted: bool, hot_key_share: float = 0.0
) -> np.ndarray:
    """The id whose content each generated row carries: planted duplicates
    copy the previous id, hot-key rows copy id 0 (applied after the dup
    plant, as the generator does)."""
    eff = ids.copy()
    if planted:
        dup = (ids % V_DUP[0] == V_DUP[1]) & (ids > 0)
        eff[dup] = ids[dup] - 1
    if hot_key_share > 0.0:
        eff[u01(ids, 90) < hot_key_share] = 0
    return eff


def bucket_of(eff: np.ndarray, n_buckets: int) -> np.ndarray:
    """The generator's bucket column: crc32(clip_id) % n_buckets."""
    return np.array(
        [zlib.crc32(c.encode()) % n_buckets for c in clip_id_of(eff)],
        dtype=np.int64,
    )


def _hits(eff: np.ndarray, stride: tuple[int, int]) -> np.ndarray:
    return (eff % stride[0]) == stride[1]


def _dup_rows(eff: np.ndarray) -> int:
    """Rows whose clip_id occurs more than once (every participating row
    is a violation row)."""
    _, counts = np.unique(eff, return_counts=True)
    return int(counts[counts > 1].sum())


def _fd_codec_sr_groups(eff: np.ndarray) -> int:
    """codec groups holding more than one distinct sr_hz value: one FD
    violation row per conflicting group."""
    codec = np.array(CODECS)[(u01(eff, 32) * len(CODECS)).astype(int)]
    codec[_hits(eff, V_CODEC)] = "amr_nb"
    sr = np.array(SAMPLE_RATES)[(u01(eff, 31) * len(SAMPLE_RATES)).astype(int)]
    sr[_hits(eff, V_SR)] = 12345
    return sum(
        1 for c in np.unique(codec) if len(np.unique(sr[codec == c])) > 1
    )


def _reconcile_rows(cur_eff: np.ndarray, base_eff: np.ndarray) -> int:
    """snapshot_diff rows that are violations (removed + changed; added rows
    are dropped by the check). The key join multiplies multiplicities.
    Every joined planted row differs from its baseline row: the planted
    dur_ms drift (x1.25 on durations >= ~221 ms) changes dur_ms, and the
    rate plants that pin dur_ms also rewrite the transcript."""
    keys_c, mult_c = np.unique(cur_eff, return_counts=True)
    keys_b, mult_b = np.unique(base_eff, return_counts=True)
    in_cur = np.isin(keys_b, keys_c)
    removed = int(mult_b[~in_cur].sum())
    pos = np.searchsorted(keys_c, keys_b[in_cur])
    changed = int((mult_b[in_cur] * mult_c[pos]).sum())
    return removed + changed


def expected_violations(
    ids: np.ndarray,
    *,
    audio: bool,
    fd: bool = False,
    reconcile: bool = False,
    hot_key_share: float = 0.0,
) -> dict[str, int]:
    """Violation rows per constraint id for the planted current snapshot
    over the generated row ids ``ids`` (baseline: the unplanted snapshot
    over the same ids). ``audio`` selects the decode-backed row checks."""
    eff = effective_ids(ids, True, hot_key_share)

    null_m = _hits(eff, V_NULL_T)
    empty_m = _hits(eff, V_EMPTY_T)
    mism_m = _hits(eff, V_MISMATCH)
    pcm_hit = _hits(eff, V_PCM)
    codec_hit = _hits(eff, V_CODEC)
    silent_m = _hits(eff, V_SILENT)
    rhi_m = _hits(eff, V_RATE_HI)
    rlo_m = _hits(eff, V_RATE_LO)
    pii_m = _hits(eff, V_PII)

    out = {
        "transcript_not_null": int((null_m | empty_m).sum()),
        "dur_ms_positive": 0,
        "clip_id_format": 0,
        # PII lands only where no other transcript plant took precedence
        "transcript_pii_free": int(
            (pii_m & ~(null_m | empty_m | mism_m | rhi_m | rlo_m)).sum()
        ),
        "clip_id_unique": _dup_rows(eff),
        "codec_in_dim": int(codec_hit.sum()),
        "sr_hz_in_dim": int(_hits(eff, V_SR).sum()),
    }
    if audio:
        # a row on both rate strides keeps the high-rate transcript but the
        # low-rate duration (the generator pins dur_ms in that order): its
        # declared rate is sane, so only one of the two plants fires
        rate_fires = (rhi_m ^ rlo_m) & ~(null_m | empty_m | mism_m)
        out.update(
            {
                # corrupted PCM, undecodable (unknown codec) and silent rows
                "pcm_snr_30db": int((pcm_hit | codec_hit | silent_m).sum()),
                "transcript_matches_reference": int(
                    (mism_m | null_m | empty_m | rhi_m | rlo_m | pii_m).sum()
                ),
                "transcript_silence_consistent": int(
                    (silent_m & ~codec_hit & ~(null_m | empty_m)).sum()
                ),
                "transcript_speech_labeled": int(
                    ((null_m | empty_m) & ~codec_hit & ~silent_m).sum()
                ),
                "speaking_rate_sane": int(
                    (rate_fires & ~codec_hit & ~silent_m).sum()
                ),
            }
        )
    if fd:
        out["fd_codec_sr"] = _fd_codec_sr_groups(eff)
    if reconcile:
        base_eff = effective_ids(ids, False, hot_key_share)
        out["snapshot_reconcile"] = _reconcile_rows(eff, base_eff)
    return out


def count_mismatches(
    got: dict[str, int], expected: dict[str, int]
) -> list[str]:
    """Human-readable mismatches between observed and expected per-constraint
    violation counts (a constraint absent from ``got`` counted 0 rows)."""
    bad = [
        f"{cid}: got {got.get(cid, 0)}, expected {exp}"
        for cid, exp in sorted(expected.items())
        if got.get(cid, 0) != exp
    ]
    bad += [
        f"{cid}: got {n} rows for a constraint with no expected count"
        for cid, n in sorted(got.items())
        if cid not in expected
    ]
    return bad
