"""End-to-end clips validation suite tests (SURVEY §5 carry-over: planted
violations, pandas-oracle recomputation, checkpoint/resume)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from pyanomalydetector2_spark.constraints import default_clips_suite, run_suite
from pyanomalydetector2_spark.datagen.clips import (
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
    _gen_batch,
    clips_table,
    dim_codec,
    dim_sr,
)
from pyanomalydetector2_spark.streaming.checkpoint import CheckpointLedger

N = 3000
BUCKETS = 8


def oracle_pdf(n: int, planted: bool) -> pd.DataFrame:
    """Independent recomputation of the clips table in pure pandas."""
    pdf = _gen_batch(np.arange(n, dtype=np.int64), planted)
    pdf["bucket"] = (pdf["bucket"] % BUCKETS).astype("int32")
    return pdf


@pytest.fixture(scope="module")
def clips(spark):
    cur = clips_table(spark, N, planted=True, n_buckets=BUCKETS).cache()
    base = clips_table(spark, N, planted=False, n_buckets=BUCKETS).cache()
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    return cur, base, dims


def test_datagen_deterministic_and_matches_pandas_oracle(spark, clips):
    cur, _, _ = clips
    got = cur.drop("bytes").toPandas().sort_values("clip_id", kind="stable")
    exp = oracle_pdf(N, True).drop(columns=["bytes"]).sort_values(
        "clip_id", kind="stable"
    )
    # duplicates share clip_id; include a secondary sort for stability
    got = got.sort_values(list(got.columns)).reset_index(drop=True)
    exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_suite_violation_counts_match_oracle(spark, clips):
    cur, base, dims = clips
    res = run_suite(cur, base, dims, default_clips_suite(), "run_counts")
    got = {
        r["constraint_id"]: r["cnt"]
        for r in res.violations.groupBy("constraint_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }

    o = oracle_pdf(N, True)
    ids = np.arange(N, dtype=np.int64)
    eff = ids.copy()
    dup = (ids % V_DUP[0] == V_DUP[1]) & (ids > 0)
    eff[dup] = ids[dup] - 1

    null_m = (eff % V_NULL_T[0]) == V_NULL_T[1]
    empty_m = (eff % V_EMPTY_T[0]) == V_EMPTY_T[1]
    mism_m = (eff % V_MISMATCH[0]) == V_MISMATCH[1]
    pcm_hit = (eff % V_PCM[0]) == V_PCM[1]
    codec_hit = (eff % V_CODEC[0]) == V_CODEC[1]
    silent_m = (eff % V_SILENT[0]) == V_SILENT[1]
    rhi_m = (eff % V_RATE_HI[0]) == V_RATE_HI[1]
    rlo_m = (eff % V_RATE_LO[0]) == V_RATE_LO[1]
    pii_m = (eff % V_PII[0]) == V_PII[1]
    exp_null = int(null_m.sum())
    exp_empty = int(empty_m.sum())
    exp_codec = int(codec_hit.sum())
    exp_sr = int(((eff % V_SR[0]) == V_SR[1]).sum())
    # snr check fails on corrupted PCM, undecodable (unknown codec) rows,
    # and the silent plant (zero payload vs sine reference → 0 dB)
    exp_snr = int((pcm_hit | codec_hit | silent_m).sum())
    # transcript match fails on every transcript mutation (strides overlap)
    exp_tmatch = int((mism_m | null_m | empty_m | rhi_m | rlo_m | pii_m).sum())
    # PII lands only where no other transcript plant took precedence
    exp_pii = int((pii_m & ~(null_m | empty_m | mism_m | rhi_m | rlo_m)).sum())
    # cross-modal checks: need decode evidence (unknown codec excluded);
    # silent rows flag when the transcript has ≥1 token (every transcript
    # variant except the null/empty plants); speech rows flag on 0 tokens
    # (null/empty plants, unless the row is also the silent plant); rate
    # plants fire only where their transcript mutation actually landed
    # (null/empty/mismatch take precedence) on speech rows
    exp_silent_t = int((silent_m & ~codec_hit & ~(null_m | empty_m)).sum())
    exp_speech_e = int(((null_m | empty_m) & ~codec_hit & ~silent_m).sum())
    rate_fires = (rhi_m | rlo_m) & ~(null_m | empty_m | mism_m)
    exp_rate = int((rate_fires & ~codec_hit & ~silent_m).sum())
    # every row participating in a duplicated key is a violation row
    dup_keys = o.loc[dup, "clip_id"]
    exp_dup_rows = int(o["clip_id"].isin(set(dup_keys)).sum())

    assert got.get("transcript_not_null", 0) == exp_null + exp_empty
    assert got.get("codec_in_dim", 0) == exp_codec
    assert got.get("sr_hz_in_dim", 0) == exp_sr
    assert got.get("pcm_snr_30db", 0) == exp_snr
    assert got.get("transcript_matches_reference", 0) == exp_tmatch
    assert got.get("clip_id_unique", 0) == exp_dup_rows
    assert got.get("transcript_silence_consistent", 0) == exp_silent_t
    assert got.get("transcript_speech_labeled", 0) == exp_speech_e
    assert got.get("speaking_rate_sane", 0) == exp_rate
    assert exp_pii > 0 and got.get("transcript_pii_free", 0) == exp_pii
    assert "dur_ms_positive" not in got
    assert "clip_id_format" not in got

    # drift: planted dur_ms shift must fail, per-bucket
    drift = {
        (r["constraint_id"], r["metric"]): r["passed"]
        for r in res.verdicts.filter("constraint_id = 'dur_ms_drift'").collect()
    }
    assert not any(drift.values())  # ×1.25 shift fails psi and ks in all buckets

    # categorical drift: the planted unknown-codec rows (~1 % amr_nb, a
    # category absent from the baseline) must breach codec_drift's
    # psi_max=0.05 in every bucket (new category vs q = ε scores ~0.09)
    cat_psi = [
        r["passed"]
        for r in res.verdicts.filter(
            "constraint_id = 'codec_drift' AND metric = 'psi'"
        ).collect()
    ]
    assert cat_psi and not any(cat_psi)


def test_clean_baseline_passes_everything(spark, clips):
    _, base, dims = clips
    res = run_suite(base, base, dims, default_clips_suite(), "run_clean")
    assert res.violations.isEmpty()
    assert res.passed()


def test_transcript_pii_plant_kinds_and_redaction(spark, clips):
    """Every planted PII kind (email / IPv4 / phone, cycling on eff % 3) is
    detected by the curation operators over the clip transcripts, exactly
    one hit of exactly the planted kind per row, and pii_redact scrubs it —
    the operator surface the suite's transcript_pii_free check rides on."""
    import re

    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.operators.curation import (
        PII_PATTERNS,
        pii_metrics,
        pii_redact,
    )

    cur, _, _ = clips
    got = (
        pii_metrics(cur.select("clip_id", "transcript"), "transcript")
        .withColumn("red", pii_redact(F.col("transcript")))
        .filter("n_email + n_ipv4 + n_phone > 0")
        .toPandas()
        .set_index("clip_id")
    )
    # planted duplicates are FULL row copies — a duped PII row yields two
    # identical flagged rows under one clip_id; keep one
    got = got[~got.index.duplicated()]

    ids = np.arange(N, dtype=np.int64)
    eff = ids.copy()
    dup = (ids % V_DUP[0] == V_DUP[1]) & (ids > 0)
    eff[dup] = ids[dup] - 1
    pii_fires = ((eff % V_PII[0]) == V_PII[1])
    for p, off in (V_NULL_T, V_EMPTY_T, V_MISMATCH, V_RATE_HI, V_RATE_LO):
        pii_fires &= (eff % p) != off
    o = oracle_pdf(N, True)
    exp = {
        o["clip_id"].iloc[i]: ("email", "ipv4", "phone")[int(eff[i]) % 3]
        for i in np.nonzero(pii_fires)[0]
    }
    assert len(got) == len(set(exp)) and set(got.index) == set(exp)
    assert {v for v in exp.values()} == {"email", "ipv4", "phone"}
    for cid, kind in exp.items():
        row = got.loc[cid]
        counts = {k: int(row[f"n_{k}"]) for k in ("email", "ipv4", "phone")}
        assert counts == {k: int(k == kind) for k in counts}, (cid, counts)
        # redaction: placeholder present, no pattern matches anything left
        assert PII_PATTERNS[kind][1] in row["red"]
        for pat, _tok in PII_PATTERNS.values():
            assert not re.search(pat, row["red"]), (cid, row["red"])


def test_snr_separation(spark, clips):
    """Corrupted PCM sits far below 30 dB; clean PCM far above (quantization
    noise only) — the threshold has real margin on both sides."""
    from pyanomalydetector2_spark.operators.audio import with_audio_invariants

    cur, _, _ = clips
    inv = with_audio_invariants(cur).select("clip_id", "snr", "decode_ok").toPandas()
    o = oracle_pdf(N, True)
    ids = np.arange(N, dtype=np.int64)
    eff = ids.copy()
    dup = (ids % V_DUP[0] == V_DUP[1]) & (ids > 0)
    eff[dup] = ids[dup] - 1
    corrupted_ids = set(o.loc[(eff % V_PCM[0]) == V_PCM[1], "clip_id"])
    silent_ids = set(o.loc[(eff % V_SILENT[0]) == V_SILENT[1], "clip_id"])
    decodable = inv[inv.decode_ok]
    bad = decodable[decodable.clip_id.isin(corrupted_ids)]
    silent = decodable[decodable.clip_id.isin(silent_ids - corrupted_ids)]
    good = decodable[
        ~decodable.clip_id.isin(corrupted_ids | silent_ids)
    ]
    assert (bad.snr < 15).all(), bad.snr.describe()
    # silent plant: zero payload vs sine reference is exactly 0 dB
    assert (silent.snr == 0.0).all(), silent.snr.describe()
    assert (good.snr > 45).all(), good.snr.describe()


def test_checkpoint_resume_skips_committed(spark, clips, tmp_path):
    cur, base, dims = clips
    suite = default_clips_suite()
    ledger = CheckpointLedger(str(tmp_path / "ledger"))

    # simulate a run killed after committing buckets {0,1,2}
    part1 = cur.filter("bucket IN (0,1,2)")
    r1 = run_suite(part1, base, dims, suite, "run_resume", checkpoint=ledger)
    assert sorted(r1.processed_buckets) == [0, 1, 2]
    assert ledger.committed_buckets("run_resume") == [0, 1, 2]

    # resume over the FULL table: committed buckets must be pruned
    r2 = run_suite(cur, base, dims, suite, "run_resume", checkpoint=ledger)
    assert r2.skipped_buckets == [0, 1, 2]
    assert sorted(r2.processed_buckets) == list(range(3, BUCKETS))
    assert r2.violations.filter("bucket IN (0,1,2)").isEmpty()

    # combined runs cover every bucket exactly once; a third run is a no-op
    full = run_suite(cur, base, dims, suite, "run_full")
    v_combined = r1.violations.unionByName(r2.violations).count()
    assert v_combined == full.violations.count()
    r3 = run_suite(cur, base, dims, suite, "run_resume", checkpoint=ledger)
    assert r3.processed_buckets == [] and r3.row_count == 0


def test_hll_metric_recorded(spark, clips):
    cur, base, dims = clips
    res = run_suite(cur, base, dims, default_clips_suite(), "run_hll")
    row = res.verdicts.filter("metric = 'hll_approx_distinct'").first()
    assert row is not None
    # estimate within 5% of the true distinct count
    true_distinct = cur.select("clip_id").distinct().count()
    assert abs(row["observed"] - true_distinct) / true_distinct < 0.05


def test_equi_depth_drift_check_in_suite(spark, clips):
    """DriftCheck(equi_depth=True) rides the suite: planted dur_ms shift
    still fails, baseline-vs-baseline passes."""
    from pyanomalydetector2_spark.constraints.dsl import DriftCheck, Suite

    cur, base, dims = clips
    suite = Suite(
        drift_checks=(
            DriftCheck("dur_eq_drift", "dur_ms", 0, 0, nbins=15, equi_depth=True),
        )
    )
    res = run_suite(cur, base, dims, suite, "run_eq")
    assert not any(r["passed"] for r in res.verdicts.collect())
    res2 = run_suite(base, base, dims, suite, "run_eq2")
    assert res2.passed()


def test_equi_depth_drift_sketch_store(spark, clips, tmp_path):
    """sketch_store-backed equi-depth drift: the first run bootstraps
    per-column KLL sketch state into the catalog, the second run reuses it
    (no new snapshot written) with bit-identical verdicts, the planted
    dur_ms shift still fails, and the distributed path sharing the same
    store agrees with the funnel path exactly (identical stored edges)."""
    from pyanomalydetector2_spark.constraints.dsl import DriftCheck, Suite
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    cur, base, dims = clips
    suite = Suite(
        drift_checks=(
            DriftCheck("dur_eq_drift", "dur_ms", 0, 0, nbins=15, equi_depth=True),
        )
    )
    store = SnapshotTable(str(tmp_path / "kll_store"))
    res1 = run_suite(cur, base, dims, suite, "run_sk1", sketch_store=store)
    snaps_after_first = store.snapshots()
    assert store.read(spark).filter("column = 'dur_ms'").count() == 1

    res2 = run_suite(cur, base, dims, suite, "run_sk2", sketch_store=store)
    assert store.snapshots() == snaps_after_first  # reused, not rebuilt

    def vmap(res):
        return {
            (r["bucket"], r["metric"]): (r["observed"], r["passed"])
            for r in res.verdicts.collect()
        }

    v1, v2 = vmap(res1), vmap(res2)
    assert v1 == v2
    assert not any(p for _, p in v1.values())  # planted shift still fails

    dist_suite = Suite(
        drift_checks=(
            DriftCheck(
                "dur_eq_drift", "dur_ms", 0, 0, nbins=15,
                equi_depth=True, distributed=True,
            ),
        )
    )
    v3 = vmap(run_suite(cur, base, dims, dist_suite, "run_sk3", sketch_store=store))
    assert store.snapshots() == snaps_after_first
    # same stored edges; scores agree to float-summation-order precision
    assert v1.keys() == v3.keys()
    for key, (obs, passed) in v1.items():
        assert v3[key][1] == passed
        assert v3[key][0] == pytest.approx(obs, rel=1e-12)


def test_distributed_drift_check_matches_funnel_in_suite(spark, clips):
    """DriftCheck(distributed=True) — the no-histogram-collect path — must
    produce the same per-bucket verdicts and scores as the funnel path, for
    both uniform and equi-depth bins."""
    from pyanomalydetector2_spark.constraints.dsl import DriftCheck, Suite

    cur, base, dims = clips

    def scores(suite, run_id):
        return {
            (r["bucket"], r["metric"]): (r["observed"], r["passed"])
            for r in run_suite(cur, base, dims, suite, run_id).verdicts.collect()
        }

    for kw, tag in [({}, "uni"), ({"equi_depth": True}, "eq")]:
        funnel = Suite(
            drift_checks=(
                DriftCheck("d", "dur_ms", 0, 20000.0, nbins=15, **kw),
            )
        )
        dist = Suite(
            drift_checks=(
                DriftCheck(
                    "d", "dur_ms", 0, 20000.0, nbins=15, distributed=True, **kw
                ),
            )
        )
        f, d = scores(funnel, f"f_{tag}"), scores(dist, f"d_{tag}")
        assert set(f) == set(d) and f
        for k in f:
            assert d[k][0] == pytest.approx(f[k][0], rel=1e-9, abs=1e-12), (tag, k)
            assert d[k][1] == f[k][1], (tag, k)


def test_all_real_codec_table_passes_suite(spark):
    """A clips table whose every payload decodes through a REAL path —
    raw PCM, RIFF/WAV, and actual G.711 companding — passes the full
    default suite with zero violations: the engine's row invariants hold
    end-to-end with no deterministic-fake codec involved."""
    from pyanomalydetector2_spark.datagen.clips import clips_table, dim_codec, dim_sr

    real = ("pcm_s16le", "wav", "pcm_mulaw", "pcm_alaw")
    cur = clips_table(spark, 2000, planted=False, n_buckets=4, codecs=real)
    base = clips_table(spark, 2000, planted=False, n_buckets=4, codecs=real)
    dims = {"dim_codec": dim_codec(spark, real), "dim_sr": dim_sr(spark)}
    res = run_suite(cur, base, dims, default_clips_suite(), "run_real_codecs")
    assert res.passed(), [
        r.asDict() for r in res.verdicts.filter("NOT passed").collect()
    ]
    assert res.violations.count() == 0
    # and all four codecs actually occur in the table
    seen = {r["codec"] for r in cur.select("codec").distinct().collect()}
    assert seen == set(real)


def test_wav_container_real_roundtrip():
    """The wav path is REAL (RIFF is a container, not a codec): encode →
    parse round-trips bit-exactly; structural corruption → decode failure."""
    import numpy as np

    from pyanomalydetector2_spark.operators.audio import (
        decode_pcm_batch,
        encode_wav,
        parse_wav,
        snr_db,
    )

    pcm = (np.sin(np.arange(4000) / 7.0) * 12000).astype("<i2")
    wav = encode_wav(pcm, 16000)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    back = parse_wav(wav)
    assert back is not None and np.array_equal(back, pcm.astype(np.float64))
    dec = decode_pcm_batch(wav, "wav")
    assert dec is not None and snr_db(dec, back[: len(dec)]) == 999.0

    assert parse_wav(wav[:10]) is None              # truncated header
    assert parse_wav(b"RIFX" + wav[4:]) is None     # wrong magic
    # non-PCM format code in fmt chunk → rejected
    bad = bytearray(wav)
    bad[20] = 3  # fmt = IEEE float
    assert parse_wav(bytes(bad)) is None
    assert decode_pcm_batch(wav, "flac") is None    # magic mismatch


def test_opus_mp3_real_container_fake_codec_roundtrip():
    """r03 boundary move: opus/mp3 rows carry REAL containers (Ogg pages
    with verified CRCs + OpusHead; exact MPEG frame geometry) around the
    declared fake codec payload — the decode seam walks the container for
    real and still recovers the reference PCM."""
    import numpy as np

    from pyanomalydetector2_spark.datagen.clips import PCM_SAMPLES, _gen_batch
    from pyanomalydetector2_spark.operators.audio import decode_pcm_batch
    from pyanomalydetector2_spark.operators.mp3_frames import mp3_info
    from pyanomalydetector2_spark.operators.ogg_opus import ogg_opus_info

    pdf = _gen_batch(np.arange(0, 600, dtype=np.int64), planted=False)
    n_checked = {"opus": 0, "mp3": 0}
    for _, row in pdf[pdf["codec"].isin(["opus", "mp3"])].head(40).iterrows():
        payload, codec = bytes(row["bytes"]), row["codec"]
        dec = decode_pcm_batch(payload, codec)
        assert dec is not None and len(dec) == PCM_SAMPLES
        if codec == "opus":
            info = ogg_opus_info(payload)  # full CRC-verified page walk
            assert info["channels"] == 1
            assert info["audio_bytes"] >= 2 * PCM_SAMPLES
        else:
            info = mp3_info(payload)
            assert info["cbr"] and info["sample_rate"] == row["sr_hz"]
            assert info["n_frames"] >= 2
        n_checked[codec] += 1
    assert n_checked["opus"] > 0 and n_checked["mp3"] > 0

    # corrupting any container byte must flip to decode failure, not garbage
    assert decode_pcm_batch(b"OggS" + b"\x00" * 100, "opus") is None
    assert decode_pcm_batch(b"\x00" * 100, "mp3") is None


def test_speaking_rate_null_duration_is_missing_evidence(spark):
    """NULL/zero dur_ms carries no rate evidence: the speaking-rate
    predicate must pass (vacuous) instead of the NULL comparison
    propagating through NOT into the runner's fail-closed policy — the
    duration check owns that failure, not the rate check."""
    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.constraints.dsl import default_clips_suite

    pred = next(
        c for c in default_clips_suite().row_checks
        if c.constraint_id == "speaking_rate_sane"
    ).predicate
    df = spark.createDataFrame(
        [
            ("null_dur", True, 0.1, 5, None),
            ("zero_dur", True, 0.1, 5, 0),
            ("outlier", True, 0.1, 500, 1000),
            ("sane", True, 0.1, 5, 1000),
        ],
        "case string, decode_ok boolean, silence_ratio double, "
        "transcript_tokens int, dur_ms int",
    )
    got = {
        r["case"]: r["ok"]
        for r in df.select(
            "case", F.coalesce(F.expr(pred), F.lit(False)).alias("ok")
        ).collect()
    }
    assert got == {
        "null_dur": True,   # missing evidence — not a rate violation
        "zero_dur": True,
        "outlier": False,   # 500 tokens/s: genuine violation
        "sane": True,
    }


def test_ledger_records_each_buckets_own_rows(spark, clips, tmp_path):
    """Each bucket's ledger record carries that bucket's own row count —
    the same for run_suite(commit=True) and for the deferred
    commit_checkpoint — plus the ids of the snapshots it was persisted in."""
    from pyanomalydetector2_spark.constraints.dsl import Suite, UniqueCheck
    from pyanomalydetector2_spark.constraints.suite import commit_checkpoint

    cur, base, dims = clips
    part = cur.filter(
        "bucket = 0 OR (bucket = 1 AND dur_ms % 3 = 0) "
        "OR (bucket = 2 AND dur_ms % 7 = 0)"
    )
    want = {r["bucket"]: r["count"] for r in part.groupBy("bucket").count().collect()}
    assert sorted(want) == [0, 1, 2] and len(set(want.values())) == 3
    suite = Suite(unique_checks=(UniqueCheck("uniq_clip", "clip_id"),))

    def ledger_rows(ledger):
        return {b: ledger.metrics("run_rows", b)["metrics"]["rows"] for b in want}

    inline = CheckpointLedger(str(tmp_path / "inline"))
    res = run_suite(part, base, dims, suite, "run_rows", checkpoint=inline)
    assert ledger_rows(inline) == want
    assert sum(want.values()) == res.row_count
    assert res.bucket_rows == want

    deferred = CheckpointLedger(str(tmp_path / "deferred"))
    res2 = run_suite(part, base, dims, suite, "run_rows", checkpoint=deferred, commit=False)
    assert deferred.committed_buckets("run_rows") == []
    commit_checkpoint(res2, deferred, snapshot_id=7, verdicts_snapshot_id=9)
    assert ledger_rows(deferred) == want
    rec = deferred.metrics("run_rows", 1)
    assert rec["snapshot_id"] == 7 and rec["metrics"]["verdicts_snapshot_id"] == 9


def test_noop_resume_runs_one_job_and_writes_nothing(spark, clips, tmp_path):
    """A resume whose buckets are all committed (run_suite → both merges →
    commit_checkpoint) launches no Spark job beyond the bucket count and
    writes no file: no snapshot, no ledger record."""
    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.constraints.suite import commit_checkpoint
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    cur, base, dims = clips
    suite = default_clips_suite()
    ledger = CheckpointLedger(str(tmp_path / "ledger"))
    results = SnapshotTable(str(tmp_path / "results"))
    verdicts = SnapshotTable(str(tmp_path / "verdicts"))

    def resume():
        res = run_suite(cur, base, dims, suite, "run_noop", checkpoint=ledger, commit=False)
        sids = (
            results.merge_upsert(
                res.violations, ["run_id", "bucket", "clip_id", "constraint_id"],
                partition_by=["bucket"],
            ),
            verdicts.merge_upsert(
                res.verdicts, ["run_id", "bucket", "constraint_id", "metric"]
            ),
        )
        commit_checkpoint(res, ledger, *sids)
        return res, sids

    first, first_sids = resume()
    assert first.processed_buckets == list(range(BUCKETS))
    before = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(tmp_path)
        for f in files
    }

    sc = spark.sparkContext
    try:
        sc.setJobGroup("bucket-count", "the resume's bucket-count job alone")
        cur.filter(~F.col("bucket").isin(list(range(BUCKETS)))).groupBy(
            "bucket"
        ).count().collect()
        sc.setJobGroup("noop-resume", "a resume with every bucket committed")
        again, sids = resume()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    assert len(tracker.getJobIdsForGroup("noop-resume")) == len(
        tracker.getJobIdsForGroup("bucket-count")
    )
    assert again.processed_buckets == [] and again.row_count == 0
    assert sids == first_sids
    after = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, files in os.walk(tmp_path)
        for f in files
    }
    assert after == before
