"""Constraint DSL: declarative specs compiled to Column expressions.

The reference drives per-item threshold conditions from YAML
(``item_conds``: {filter, condition: {operator, value}},
samples/zabbix.yml:26-81) interpreted row-by-row in Python
(detector.py:169-185 ``_evaluate_cond``). Here each spec compiles ONCE to a
Column expression / DataFrame plan; there is no per-row Python anywhere.

Constraint kinds covering the north_rule surface:
- RowCheck        per-row predicate (schema invariants, audio/transcript
                  invariants) — violations are rows.
- StatCheck       per-bucket column-stat threshold (null-rate, mean, std, …)
                  over the single-pass column profile.
- UniqueCheck     key uniqueness (HLL screen → exact confirm).
- RefCheck        referential integrity vs a dimension table.
- DriftCheck      PSI/KS distribution drift vs the baseline snapshot.
- FdCheck         functional dependency (determinant → single dependent).
- ReconcileCheck  bounded row-level diff vs the baseline snapshot.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass

_OPS = {
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
    "==": operator.eq,
}


@dataclass(frozen=True)
class RowCheck:
    constraint_id: str
    predicate: str  # SQL expr; row passes when TRUE
    observed: str  # SQL expr → string shown in the violation row
    expected: str  # human-readable expectation
    requires_audio: bool = False  # needs the decoded-PCM invariant columns
    # needs (container, container_ok) from the NO-DECODE container walk —
    # the cheap validation tier (multimodal.with_container_meta)
    requires_container: bool = False


@dataclass(frozen=True)
class StatCheck:
    constraint_id: str
    column: str
    # a column_profile output (null_rate, mean, std, min, max, cnt, …) or a
    # percentile "p0".."p100" (nearest-rank, computed via the mergeable KLL
    # sketch — operators/kll.py — in both the batch and streaming suites)
    stat: str
    op: str  # < <= > >= ==
    threshold: float

    def passes(self, value: float) -> bool:
        return bool(_OPS[self.op](value, self.threshold))


def parse_percentile_stat(stat: str) -> float | None:
    """``p95`` → 0.95; None if the stat is not a percentile. Integer
    percentiles only — the stat doubles as a DataFrame column name, so no
    dots."""
    if len(stat) >= 2 and stat[0] == "p" and stat[1:].isdigit():
        pct = int(stat[1:])
        if 0 <= pct <= 100:
            return pct / 100.0
    return None


@dataclass(frozen=True)
class UniqueCheck:
    constraint_id: str
    column: str


@dataclass(frozen=True)
class RefCheck:
    constraint_id: str
    column: str
    dim_name: str  # key into the dims dict passed to run_suite


@dataclass(frozen=True)
class DriftCheck:
    constraint_id: str
    column: str
    lo: float
    hi: float
    nbins: int = 20
    psi_max: float = 0.2
    ks_max: float = 0.15
    # equi-depth mode: bin edges come from the baseline's quantile sketch
    # instead of uniform [lo, hi) — robust to heavy tails (lo/hi ignored)
    equi_depth: bool = False
    # distributed mode: PSI/KS computed with NO histogram collect
    # (drift.drift_scores_df / drift_scores_quantile_df) — for
    # high-cardinality bucket columns where per-bucket histograms no longer
    # fit the driver funnel; only the per-bucket SCORES come back
    distributed: bool = False
    # categorical mode: frequency-PSI + max-share-deviation (linf, the
    # order-free KS analog) over category counts instead of numeric bins —
    # lo/hi/nbins/equi_depth ignored. The per-bucket category counts and
    # the baseline's are collected and scored on the driver
    # (drift.categorical_scores); ks_max bounds linf.
    categorical: bool = False


@dataclass(frozen=True)
class FdCheck:
    """Functional dependency: within every ``determinant`` value group the
    ``dependent`` column must be single-valued (codec → container family,
    declared sr_hz → bytes-per-second class). A group property no per-row
    predicate can express; violations are one row per conflicting group
    with O(1) min/max witnesses (operators/integrity.fd_violations)."""

    constraint_id: str
    determinant: tuple[str, ...]
    dependent: str


@dataclass(frozen=True)
class ReconcileCheck:
    """Row-level reconciliation against the suite's baseline snapshot
    (operators/reconcile.snapshot_diff on the run's key column): bounds the
    RATE of removed / changed / (optionally) added keys relative to the
    baseline row count, per bucket. The post-backfill / post-compaction
    invariant a snapshot-versioned warehouse checks between any two
    versions — drift checks see distributions move, this sees individual
    rows vanish or mutate.

    ``max_added_rate=None`` (default) treats appends as normal growth: no
    added-rate verdict and added rows are NOT emitted as violations.
    Removed and changed keys are always violation rows.
    """

    constraint_id: str
    compare_cols: tuple[str, ...]
    max_removed_rate: float = 0.0
    max_changed_rate: float = 0.0
    max_added_rate: float | None = None


@dataclass(frozen=True)
class Suite:
    row_checks: tuple[RowCheck, ...] = ()
    stat_checks: tuple[StatCheck, ...] = ()
    unique_checks: tuple[UniqueCheck, ...] = ()
    ref_checks: tuple[RefCheck, ...] = ()
    drift_checks: tuple[DriftCheck, ...] = ()
    fd_checks: tuple[FdCheck, ...] = ()
    reconcile_checks: tuple[ReconcileCheck, ...] = ()

    def all_ids(self) -> list[str]:
        return [
            c.constraint_id
            for group in (
                self.row_checks,
                self.stat_checks,
                self.unique_checks,
                self.ref_checks,
                self.drift_checks,
                self.fd_checks,
                self.reconcile_checks,
            )
            for c in group
        ]


def drop_checks(suite: Suite, drop: set[str]) -> Suite:
    """Suite minus the named constraint ids — rebuilt over EVERY check
    group by field name (dataclasses.fields), so a group added to Suite
    later can never be silently zeroed by a positional rebuild."""
    import dataclasses

    unknown = set(drop) - set(suite.all_ids())
    if unknown:
        raise ValueError(f"drop_checks: unknown ids {sorted(unknown)}")
    return dataclasses.replace(
        suite,
        **{
            f.name: tuple(
                c for c in getattr(suite, f.name) if c.constraint_id not in drop
            )
            for f in dataclasses.fields(suite)
        },
    )


# transcript token count as a pure SQL expression (whitespace-delimited
# runs; trim + empty-filter so ''/NULL count 0 — the SAME tokenizer as
# text.ws_tokens, down to tab/newline
# separators ('\\s+' in the SQL literal parses to the \s+ regex). The
# suite runner materializes this ONCE as the ``transcript_tokens`` column
# on the audio-invariant projection and the cross-modal predicates
# reference the column by name — a single definition for the DSL and the
# YAML mirror (the YAML references the column, never this string).
# Perf-neutral by measurement: codegen subexpression elimination already
# evaluated the previously-inlined duplicates once per row (BASELINE.md §13).
TOKEN_COUNT_SQL = (
    r"size(filter(split(lower(trim(coalesce(transcript, ''))), '\\s+'), "
    r"x -> x != ''))"
)
# declared tokens/second; NULL when dur_ms is NULL/0 — missing evidence,
# so the speaking-rate predicate coalesces the NULL outlier comparison to
# false (vacuous pass). Without the coalesce the NULL would propagate
# through the outer NOT and the runner's fail-closed NULL-predicate policy
# would double-flag the row the duration check already reports.
_RATE = "transcript_tokens * 1000.0 / nullif(dur_ms, 0)"


def _pii_sql_literal(pat: str) -> str:
    """A PII regex as a Spark SQL string literal: backslashes double so the
    parser emits the original pattern ('\\\\b' in SQL text → \\b regex)."""
    return pat.replace("\\", "\\\\")


def _pii_check_sql() -> tuple[str, str]:
    """(predicate, observed) for the transcript PII row check, built from
    operators.curation.PII_PATTERNS — ONE pattern source for the curation
    operators (pii_metrics / pii_redact), this suite check, and the YAML
    mirror (configs/clips_suite.yml carries the expanded text; equality is
    pinned by tests/test_config.py). NULL transcript → no hits → pass
    (missing evidence; transcript_not_null already owns that row)."""
    from pyanomalydetector2_spark.operators.curation import PII_PATTERNS

    hits = " OR ".join(
        f"coalesce(transcript, '') rlike '{_pii_sql_literal(p)}'"
        for p, _ in PII_PATTERNS.values()
    )
    observed = "concat(" + ", ".join(
        f"'{'' if i == 0 else ' '}{name}=', "
        f"cast(size(regexp_extract_all(coalesce(transcript, ''), "
        f"'{_pii_sql_literal(pat)}', 0)) as string)"
        for i, (name, (pat, _)) in enumerate(PII_PATTERNS.items())
    ) + ")"
    return f"NOT ({hits})", observed


_PII_PREDICATE, _PII_OBSERVED = _pii_check_sql()


def default_clips_suite() -> Suite:
    """The full constraint suite for the clips table (north_rule surface).
    SNR threshold per input_hint: decoded-PCM allclose ⇔ SNR ≥ 30 dB."""
    return Suite(
        row_checks=(
            RowCheck(
                "transcript_not_null",
                "transcript IS NOT NULL AND length(transcript) > 0",
                "coalesce(transcript, 'NULL')",
                "non-empty transcript",
            ),
            RowCheck(
                "dur_ms_positive",
                "dur_ms IS NOT NULL AND dur_ms > 0 AND dur_ms <= 600000",
                "cast(dur_ms as string)",
                "0 < dur_ms <= 600000",
            ),
            RowCheck(
                "clip_id_format",
                "clip_id rlike '^clip-[0-9]{12}$'",
                "clip_id",
                "clip-############",
            ),
            RowCheck(
                "pcm_snr_30db",
                "decode_ok AND snr >= 30.0",
                "concat('decode_ok=', cast(decode_ok as string), ' snr=', cast(round(snr,1) as string))",
                "decodable PCM with SNR >= 30 dB vs reference decode",
                requires_audio=True,
            ),
            RowCheck(
                "transcript_matches_reference",
                "transcript_ok",
                "coalesce(transcript, 'NULL')",
                "transcript equals reference transcript",
                requires_audio=True,
            ),
            # cross-modal transcript↔audio checks (VERDICT r04 #1): the
            # table is clip+transcript PAIRS — compare the modalities.
            # silence_ratio rides the same decoded head the SNR pass
            # already materialized; tokens are a column expression; all
            # three predicates are vacuous-true without decode evidence.
            RowCheck(
                "transcript_silence_consistent",
                "NOT (decode_ok AND silence_ratio >= 0.99 "
                "AND transcript_tokens >= 1)",
                "concat('silence_ratio=', cast(round(silence_ratio, 3) as "
                "string), ' n_tokens=', cast(transcript_tokens as string))",
                "no non-empty transcript on a silent clip",
                requires_audio=True,
            ),
            RowCheck(
                "transcript_speech_labeled",
                "NOT (decode_ok AND silence_ratio <= 0.5 "
                "AND transcript_tokens = 0)",
                "concat('silence_ratio=', cast(round(silence_ratio, 3) as "
                "string), ' transcript=', coalesce(transcript, 'NULL'))",
                "speech audio carries a non-empty transcript",
                requires_audio=True,
            ),
            RowCheck(
                "speaking_rate_sane",
                f"NOT (decode_ok AND silence_ratio <= 0.5 "
                f"AND transcript_tokens >= 1 "
                f"AND coalesce({_RATE} < 0.02 OR {_RATE} > 100.0, false))",
                f"concat('tokens_per_s=', cast(round({_RATE}, 3) as string))",
                "0.02 <= declared tokens/second <= 100 on speech rows",
                requires_audio=True,
            ),
            # transcript PII (curation surface wired into the validation
            # suite): emails / IPv4s / phone numbers must never ship in a
            # training transcript. Same patterns as operators.curation
            # (pii_metrics / pii_redact) — JVM regex, map-side only; no
            # audio evidence needed, so the check runs on the cheap
            # non-decoded projection.
            RowCheck(
                "transcript_pii_free",
                _PII_PREDICATE,
                _PII_OBSERVED,
                "transcript free of email/IPv4/phone PII",
            ),
        ),
        stat_checks=(
            StatCheck("transcript_null_rate", "transcript", "null_rate", "<=", 0.02),
            StatCheck("dur_ms_mean_sane", "dur_ms", "mean", "<=", 10000.0),
            StatCheck("sr_hz_min", "sr_hz", "min", ">=", 4000.0),
        ),
        unique_checks=(UniqueCheck("clip_id_unique", "clip_id"),),
        ref_checks=(
            RefCheck("codec_in_dim", "codec", "dim_codec"),
            RefCheck("sr_hz_in_dim", "sr_hz", "dim_sr"),
        ),
        drift_checks=(
            DriftCheck("dur_ms_drift", "dur_ms", 0.0, 20000.0, nbins=25),
            DriftCheck(
                "sr_hz_drift", "sr_hz", 0.0, 50000.0, nbins=50, psi_max=0.1, ks_max=0.1
            ),
            # codec is a low-cardinality string column — frequency PSI over
            # category counts; the planted unknown-codec rows (a category
            # absent from the baseline, vs q = ε) breach psi_max 0.02 in
            # every bucket even at small fixtures, while clean per-bucket
            # sampling noise stays an order of magnitude below it
            DriftCheck(
                "codec_drift", "codec", 0.0, 0.0,
                psi_max=0.02, ks_max=0.05, categorical=True,
            ),
        ),
    )
