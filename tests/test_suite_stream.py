"""Streaming constraint suite: streaming-equals-batch, incremental
resume, per-batch idempotence, torn-batch invisibility, and state
compaction (streaming/suite_stream.py)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from pyanomalydetector2_spark.constraints import default_clips_suite, run_suite
from pyanomalydetector2_spark.constraints.dsl import (
    DriftCheck,
    StatCheck,
    Suite,
)
from pyanomalydetector2_spark.datagen.clips import (
    CLIPS_SCHEMA,
    clips_table,
    dim_codec,
    dim_sr,
)
from pyanomalydetector2_spark.functions import local_rows_df
from pyanomalydetector2_spark.streaming.suite_stream import (
    batch_metrics,
    compact_suite_state,
    ensure_streamable,
    process_suite_batch,
    run_suite_stream,
    streaming_suite_result,
    vacuum_suite_state,
)

N = 2000
BUCKETS = 8
K_FILES = 3


def _sorted_violations(res):
    return sorted(
        tuple(r)
        for r in res.violations.select(
            "bucket", "clip_id", "constraint_id", "observed", "expected"
        ).collect()
    )


def _sorted_verdicts(res):
    return sorted(
        (
            (r["bucket"], r["constraint_id"], r["metric"]),
            (r["observed"], r["threshold"], r["passed"], r["violation_cnt"]),
        )
        for r in res.verdicts.collect()
    )


def _assert_results_equal(stream_res, batch_res):
    assert _sorted_violations(stream_res) == _sorted_violations(batch_res)
    sv, bv = _sorted_verdicts(stream_res), _sorted_verdicts(batch_res)
    assert [k for k, _ in sv] == [k for k, _ in bv]
    for (key, s), (_, b) in zip(sv, bv):
        # integer-count state (histograms, categories, violation counts,
        # HLL over identical distinct sets) reproduces the one-shot floats
        # bit-for-bit; only the moment sums may differ in ADDITION ORDER
        assert s[0] == pytest.approx(b[0], rel=1e-9, nan_ok=True), key
        assert s[1:] == b[1:], key


@pytest.fixture(scope="module")
def drained(spark, tmp_path_factory):
    """Source files + a full availableNow drain + the matching one-shot
    batch run over the identical frame."""
    root = tmp_path_factory.mktemp("suite_stream")
    src, state = str(root / "src"), str(root / "state")
    cur = clips_table(spark, N, planted=True, n_buckets=BUCKETS)
    cur.repartition(K_FILES).write.mode("overwrite").parquet(src)
    base = clips_table(spark, N, planted=False, n_buckets=BUCKETS).cache()
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    suite = default_clips_suite()

    run_suite_stream(
        spark, src, state, suite, dims, "stream_run", CLIPS_SCHEMA,
        max_files_per_trigger=1,
    )
    stream_res = streaming_suite_result(
        spark, state, suite, base, "stream_run"
    )
    batch_res = run_suite(
        spark.read.parquet(src), base, dims, suite, "stream_run"
    )
    return src, state, base, dims, suite, stream_res, batch_res


def test_stream_equals_batch(drained):
    _, state, _, _, _, stream_res, batch_res = drained
    assert stream_res.row_count == batch_res.row_count == N
    assert stream_res.processed_buckets == batch_res.processed_buckets
    _assert_results_equal(stream_res, batch_res)
    # one committed micro-batch per source file, each with lineage metrics
    metrics = batch_metrics(state)
    assert len(metrics) == K_FILES
    assert sum(m["rows"] for m in metrics) == N
    assert all(m["wall_sec"] > 0 for m in metrics)


@pytest.mark.parametrize("engine", ["batch", "stream"])
def test_verdict_collect_runs_no_job(spark, drained, tmp_path, engine):
    """Both engines' verdicts are one driver-local frame, finalized from
    small collected state: collecting them, and committing the ledger
    from them, runs no Spark job."""
    from pyanomalydetector2_spark.constraints.suite import commit_checkpoint
    from pyanomalydetector2_spark.streaming.checkpoint import CheckpointLedger

    res = drained[6] if engine == "batch" else drained[5]
    group = f"{engine}-verdict-collect"
    sc = spark.sparkContext
    sc.setJobGroup(group, f"collect {engine} verdicts")
    try:
        assert res.verdicts.collect()
        commit_checkpoint(res, CheckpointLedger(str(tmp_path / "ledger")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("engine", ["batch", "stream"])
def test_collects_keep_the_callers_job_group(spark, drained, engine):
    """Both engines run their concurrent collects under the caller's job
    group (so ``cancelJobGroup`` and the UI see them): a rerun inside a
    group adds no job to the ungrouped set."""
    src, state, base, dims, suite, _, _ = drained
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(f"{engine}-rerun", f"rerun the {engine} suite")
    try:
        if engine == "batch":
            res = run_suite(
                spark.read.parquet(src), base, dims, suite, "grouped"
            )
        else:
            res = streaming_suite_result(spark, state, suite, base, "grouped")
        res.unpersist()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(f"{engine}-rerun")
    assert not set(tracker.getJobIdsForGroup(None)) - before


@pytest.mark.parametrize("engine", ["batch", "stream"])
@pytest.mark.parametrize("stat", ["approx_distinct", "quantiles", "maen"])
def test_stat_vocabulary_is_moment_or_percentile(spark, tmp_path, engine, stat):
    """A StatCheck names a mergeable moment stat or a pXX percentile in
    both engines: a sketch-backed profile output or a misspelled stat
    raises ValueError naming the stat, before any verdict."""
    suite = Suite(stat_checks=(StatCheck("s", "dur_ms", stat, "<=", 1.0),))
    cur = clips_table(spark, 64, planted=False, n_buckets=2)
    with pytest.raises(ValueError, match=f"stat check 's' uses stat '{stat}'"):
        if engine == "batch":
            run_suite(cur, cur, {}, suite, "vocab")
        else:
            streaming_suite_result(
                spark, str(tmp_path / "state"), suite, cur, "vocab"
            )


def test_redelivered_batch_is_noop(spark, drained):
    src, state, base, dims, suite, stream_res, _ = drained
    before = _sorted_verdicts(stream_res)
    one_file = spark.read.parquet(src).limit(50)
    process_suite_batch(  # batch id 0 is already committed
        one_file, 0, state, suite, dims, "stream_run"
    )
    after = _sorted_verdicts(
        streaming_suite_result(spark, state, suite, base, "stream_run")
    )
    assert after == before


def test_torn_batch_is_invisible(spark, drained):
    src, state, base, dims, suite, stream_res, _ = drained
    # a crashed batch wrote SOME component deltas but no commit marker
    torn = 999
    spark.read.parquet(src).limit(100).groupBy("bucket").count().selectExpr(
        "cast(bucket as int) bucket", "cast(count as long) n"
    ).write.parquet(f"{state}/buckets/batch={torn}")
    try:
        res = streaming_suite_result(spark, state, suite, base, "stream_run")
        assert res.row_count == N  # torn rows not counted
        assert _sorted_verdicts(res) == _sorted_verdicts(stream_res)
    finally:
        shutil.rmtree(f"{state}/buckets/batch={torn}", ignore_errors=True)


def test_compaction_preserves_result(spark, drained):
    _, state, base, _, suite, stream_res, _ = drained
    gen = compact_suite_state(spark, state)
    assert gen == K_FILES - 1  # newest committed batch id
    removed = vacuum_suite_state(state)
    assert removed  # folded deltas reclaimed
    res = streaming_suite_result(spark, state, suite, base, "stream_run")
    assert _sorted_violations(res) == _sorted_violations(stream_res)
    assert _sorted_verdicts(res) == _sorted_verdicts(stream_res)


def test_torn_generation_is_invisible(spark, drained):
    """A compacted generation without its _SUCCESS marker (a fold that
    crashed mid-write) is never read: the drain stays on the last complete
    base and the committed deltas after it."""
    _, state, base, _, suite, stream_res, _ = drained
    torn = f"{state}/buckets_base/gen=999"
    os.makedirs(torn)
    with open(f"{torn}/part-0.parquet", "w") as f:
        f.write("not parquet")
    try:
        res = streaming_suite_result(spark, state, suite, base, "stream_run")
        assert res.row_count == N
        assert _sorted_verdicts(res) == _sorted_verdicts(stream_res)
    finally:
        shutil.rmtree(torn, ignore_errors=True)


def test_incremental_arrival_resumes(spark, tmp_path):
    """Two drains over a growing source equal one batch run over the
    union — the checkpoint skips already-validated files."""
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    suite = default_clips_suite()
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    base = clips_table(spark, 800, planted=False, n_buckets=BUCKETS).cache()

    cur = clips_table(spark, 800, planted=True, n_buckets=BUCKETS).cache()
    first = cur.filter("crc32(clip_id) % 2 = 0")
    second = cur.filter("crc32(clip_id) % 2 = 1")
    os.makedirs(src, exist_ok=True)
    first.coalesce(1).write.mode("append").parquet(src)
    run_suite_stream(
        spark, src, state, suite, dims, "inc", CLIPS_SCHEMA
    )
    mid = streaming_suite_result(spark, state, suite, base, "inc")
    assert 0 < mid.row_count < 800

    second.coalesce(1).write.mode("append").parquet(src)
    run_suite_stream(
        spark, src, state, suite, dims, "inc", CLIPS_SCHEMA
    )
    final = streaming_suite_result(spark, state, suite, base, "inc")
    assert final.row_count == 800
    batch_res = run_suite(cur, base, dims, suite, "inc")
    _assert_results_equal(final, batch_res)


def test_equi_depth_stream_equals_batch(spark, tmp_path):
    """Equi-depth drift over the stream: edges pinned once from the KLL
    sketch store (bootstrapped by a batch run over the same baseline),
    edge-binned counts merged across micro-batches — verdicts identical to
    the one-shot batch runner using the same stored edges. Without a store
    (and with no pinned edges in the state dir) the stream refuses."""
    import json as _json

    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    cur = clips_table(spark, 800, planted=True, n_buckets=4)
    cur.repartition(2).write.mode("overwrite").parquet(src)
    base = clips_table(spark, 800, planted=False, n_buckets=4).cache()
    suite = Suite(
        drift_checks=(
            DriftCheck("dur_eq", "dur_ms", 0, 0, nbins=12, equi_depth=True),
        )
    )

    with pytest.raises(ValueError, match="sketch_store"):
        run_suite_stream(
            spark, src, str(tmp_path / "state2"), suite, None, "eq_run",
            CLIPS_SCHEMA,
        )

    store = SnapshotTable(str(tmp_path / "kll"))
    batch_res = run_suite(
        spark.read.parquet(src), base, {}, suite, "eq_run",
        sketch_store=store,
    )
    run_suite_stream(
        spark, src, state, suite, None, "eq_run", CLIPS_SCHEMA,
        sketch_store=store,
    )
    with open(f"{state}/equi_edges.json") as f:
        pinned = _json.load(f)
    assert pinned["dur_eq"]["column"] == "dur_ms"
    assert len(pinned["dur_eq"]["edges"]) >= 2

    stream_res = streaming_suite_result(spark, state, suite, base, "eq_run")
    _assert_results_equal(stream_res, batch_res)
    # the planted dur_ms shift fails in both engines
    assert not stream_res.passed() and not batch_res.passed()
    base.unpersist()


def test_equi_depth_resume_keeps_pinned_edges(spark, tmp_path):
    """A resumed stream must keep the edges PINNED at first drain even if
    the sketch store moved on meanwhile — otherwise bins from different
    edge sets would merge. The final scores must equal a one-shot batch
    run whose sketch store yields the pinned edges."""
    import json as _json

    from pyanomalydetector2_spark.operators.drift import (
        quantile_edges_from_sketch,
    )
    from pyanomalydetector2_spark.operators.kll import (
        SKETCH_FIELDS,
        kll_build,
        kll_merge,
    )
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    cur = clips_table(spark, 800, planted=True, n_buckets=4)
    part1 = cur.filter("pmod(hash(clip_id), 3) != 0")
    part2 = cur.filter("pmod(hash(clip_id), 3) = 0")  # complement, multiset-safe
    part1.coalesce(1).write.mode("overwrite").parquet(src)
    base = clips_table(spark, 800, planted=False, n_buckets=4).cache()
    suite = Suite(
        drift_checks=(
            DriftCheck("dur_eq", "dur_ms", 0, 0, nbins=10, equi_depth=True),
        )
    )
    store = SnapshotTable(str(tmp_path / "kll"))
    store.write_snapshot(
        kll_build(base, "dur_ms", (), k=8192).withColumn(
            "column", F.lit("dur_ms")
        )
    )
    run_suite_stream(spark, src, state, suite, None, "rs", CLIPS_SCHEMA,
                     sketch_store=store)
    with open(f"{state}/equi_edges.json") as f:
        pinned = _json.load(f)

    # the store moves on: fold a shifted delta in (edges would now differ)
    delta = clips_table(spark, 500, planted=True, n_buckets=4).withColumn(
        "dur_ms", F.col("dur_ms") + F.lit(5000)
    )
    store.write_snapshot(
        kll_merge(
            store.read(spark),
            kll_build(delta, "dur_ms", (), k=8192).withColumn(
                "column", F.lit("dur_ms")
            ),
        )
    )

    part2.coalesce(1).write.mode("append").parquet(src)
    run_suite_stream(spark, src, state, suite, None, "rs", CLIPS_SCHEMA,
                     sketch_store=store)
    with open(f"{state}/equi_edges.json") as f:
        assert _json.load(f) == pinned  # edges survived the store change

    res = streaming_suite_result(spark, state, suite, base, "rs")
    # a store still holding the first drain's sketch yields the pinned edges
    first = SnapshotTable(str(tmp_path / "kll_first"))
    first.write_snapshot(
        kll_build(base, "dur_ms", (), k=8192).withColumn(
            "column", F.lit("dur_ms")
        )
    )
    assert quantile_edges_from_sketch(
        first.read(spark).select(*SKETCH_FIELDS), 10
    ) == pinned["dur_eq"]["edges"]
    batch_res = run_suite(cur, base, {}, suite, "rs", sketch_store=first)
    got = {
        (r["bucket"], r["metric"]): r["observed"] for r in res.verdicts.collect()
    }
    expect = batch_res.verdicts.collect()
    assert len(expect) == 2 * 4  # psi and ks of every bucket
    for r in expect:
        assert got[(r["bucket"], r["metric"])] == pytest.approx(
            r["observed"], rel=1e-9
        )
    base.unpersist()


def test_percentile_stat_stream_equals_batch(spark, tmp_path):
    """pXX StatChecks stream via per-batch KLL sketch partials and agree
    bit-for-bit with the batch runner in the exact regime; the observed
    p-values match a numpy nearest-rank oracle."""
    import math

    import numpy as np

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    cur = clips_table(spark, 900, planted=True, n_buckets=4)
    cur.repartition(3).write.mode("overwrite").parquet(src)
    base = clips_table(spark, 900, planted=False, n_buckets=4).cache()
    suite = Suite(
        stat_checks=(
            StatCheck("dur_p95", "dur_ms", "p95", "<=", 20000.0),
            StatCheck("dur_p50", "dur_ms", "p50", ">", 0.0),
            StatCheck("dur_mean", "dur_ms", "mean", ">", 0.0),
        )
    )
    batch_res = run_suite(spark.read.parquet(src), base, {}, suite, "pq")
    run_suite_stream(spark, src, state, suite, None, "pq", CLIPS_SCHEMA)
    stream_res = streaming_suite_result(spark, state, suite, base, "pq")
    _assert_results_equal(stream_res, batch_res)

    # numpy nearest-rank oracle per bucket (the suite validates CURRENT)
    pdf = spark.read.parquet(src).select("bucket", "dur_ms").toPandas()
    got = {
        (r["bucket"], r["metric"]): r["observed"]
        for r in batch_res.verdicts.collect()
    }
    for b, grp in pdf.dropna().groupby("bucket"):
        s = np.sort(grp["dur_ms"].to_numpy(dtype=float))
        for stat, q in (("p95", 0.95), ("p50", 0.50)):
            idx = max(math.ceil(q * len(s)), 1) - 1
            assert got[(int(b), f"dur_ms.{stat}")] == s[idx], (b, stat)
    base.unpersist()


def test_percentile_stat_survives_compaction(spark, tmp_path):
    """ksketch state folds through compact_suite_state via the KLL merge
    (not a scalar agg) and vacuum drops folded deltas; verdicts identical
    before and after."""
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    cur = clips_table(spark, 600, planted=False, n_buckets=4)
    cur.repartition(3).write.mode("overwrite").parquet(src)
    base = cur.cache()
    suite = Suite(stat_checks=(StatCheck("p9", "dur_ms", "p90", ">", 0.0),))
    run_suite_stream(spark, src, state, suite, None, "cp", CLIPS_SCHEMA)
    before = _sorted_verdicts(
        streaming_suite_result(spark, state, suite, base, "cp")
    )
    assert compact_suite_state(spark, state) >= 0
    removed = vacuum_suite_state(state)
    assert any("/ksketch/" in d for d in removed)
    after = _sorted_verdicts(
        streaming_suite_result(spark, state, suite, base, "cp")
    )
    assert after == before
    base.unpersist()


def test_mid_stream_check_family_addition_fails_closed(spark, tmp_path):
    """A suite that gains a check family AFTER batches were committed must
    refuse to assemble (the new family's merged state would silently
    exclude those batches); the unchanged suite still drains fine."""
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    cur = clips_table(spark, 400, planted=False, n_buckets=4)
    cur.repartition(2).write.mode("overwrite").parquet(src)
    lean = Suite(
        stat_checks=(StatCheck("m", "dur_ms", "mean", ">", 0.0),)
    )
    run_suite_stream(spark, src, state, lean, None, "mid", CLIPS_SCHEMA)
    assert streaming_suite_result(spark, state, lean, cur, "mid").passed()

    grown = Suite(
        stat_checks=(
            StatCheck("m", "dur_ms", "mean", ">", 0.0),
            StatCheck("p", "dur_ms", "p95", ">", 0.0),  # added mid-stream
        )
    )
    with pytest.raises(ValueError, match="ksketch.*added after|no delta"):
        streaming_suite_result(spark, state, grown, cur, "mid")


def test_ensure_streamable_rejects_non_mergeable():
    ok = default_clips_suite()
    ensure_streamable(ok)  # the default suite is fully streamable
    # equi-depth IS streamable (edges pinned from the KLL sketch store);
    # distributed-mode scoring is not
    ensure_streamable(
        Suite(drift_checks=(DriftCheck("d", "dur_ms", 0, 1, equi_depth=True),))
    )
    with pytest.raises(ValueError, match="distributed"):
        ensure_streamable(
            Suite(
                drift_checks=(
                    DriftCheck("d", "dur_ms", 0, 1, distributed=True),
                )
            )
        )
    with pytest.raises(ValueError, match="sketch-backed"):
        ensure_streamable(
            Suite(
                stat_checks=(
                    StatCheck("q", "dur_ms", "quantiles", "<=", 1.0),
                )
            )
        )
    # percentile stats ARE streamable (per-batch KLL sketch partials)
    ensure_streamable(
        Suite(stat_checks=(StatCheck("p", "dur_ms", "p95", "<=", 1.0),))
    )


def test_mid_stream_check_added_to_existing_family_fails_closed(
    spark, tmp_path
):
    """A check added to a family that ALREADY has state (second unique
    column, new row-check id) leaves every component covered, so the
    component guard alone cannot see it — the suite manifest must. A
    threshold-only change is NOT state-affecting and stays allowed."""
    from pyanomalydetector2_spark.constraints.dsl import RowCheck, UniqueCheck

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    cur = clips_table(spark, 400, planted=False, n_buckets=4)
    cur.repartition(2).write.mode("overwrite").parquet(src)
    suite = Suite(
        unique_checks=(UniqueCheck("u_clip", "clip_id"),),
        stat_checks=(StatCheck("m", "dur_ms", "mean", ">", 0.0),),
    )
    run_suite_stream(spark, src, state, suite, None, "mf", CLIPS_SCHEMA)
    assert streaming_suite_result(spark, state, suite, cur, "mf").passed()

    # second unique column: the ids component has deltas for every batch
    # (written for clip_id), yet codec keys from the early batches are gone
    grown = Suite(
        unique_checks=(
            UniqueCheck("u_clip", "clip_id"),
            UniqueCheck("u_codec", "codec"),
        ),
        stat_checks=suite.stat_checks,
    )
    with pytest.raises(ValueError, match="ids.*added after"):
        streaming_suite_result(spark, state, grown, cur, "mf")
    # new row-check id: same hole via the violations component
    with_rc = Suite(
        unique_checks=suite.unique_checks,
        stat_checks=suite.stat_checks,
        row_checks=(RowCheck("r_new", "dur_ms > 0", "dur_ms", "positive"),),
    )
    with pytest.raises(ValueError, match="violations.*added after"):
        streaming_suite_result(spark, state, with_rc, cur, "mf")
    # removing a check mid-stream is equally a state mismatch
    shrunk = Suite(stat_checks=suite.stat_checks)
    with pytest.raises(ValueError, match="ids"):
        streaming_suite_result(spark, state, shrunk, cur, "mf")
    # a THRESHOLD change shapes no state: still drains fine
    relaxed = Suite(
        unique_checks=suite.unique_checks,
        stat_checks=(StatCheck("m", "dur_ms", "mean", ">", -1.0),),
    )
    assert streaming_suite_result(spark, state, relaxed, cur, "mf").passed()


def test_compaction_refuses_uncovered_component(spark, tmp_path):
    """compact_suite_state must NOT fold a component that lacks deltas for
    some committed batch (manually damaged or legacy state): folding would
    stamp the base past the gap and launder it through the drain's
    coverage guard. The gap must still be detected after compaction."""
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    cur = clips_table(spark, 400, planted=False, n_buckets=4)
    cur.repartition(2).write.mode("overwrite").parquet(src)
    suite = Suite(stat_checks=(StatCheck("m", "dur_ms", "mean", ">", 0.0),))
    run_suite_stream(spark, src, state, suite, None, "cv", CLIPS_SCHEMA)
    batches = sorted(
        int(d.split("=")[1]) for d in os.listdir(f"{state}/profile")
        if d.startswith("batch=")
    )
    assert len(batches) >= 2
    # simulate the family-added-mid-stream gap: first batch's delta gone
    shutil.rmtree(f"{state}/profile/batch={batches[0]}")
    gen = compact_suite_state(spark, state)
    # profile was NOT folded (no base dir), other components were
    assert not os.path.isdir(f"{state}/profile_base/gen={gen}")
    assert os.path.isdir(f"{state}/buckets_base/gen={gen}")
    with pytest.raises(ValueError, match="profile.*no delta"):
        streaming_suite_result(spark, state, suite, cur, "cv")


def test_checks_sharing_a_column_stream_equals_batch(spark, tmp_path):
    """Two UniqueChecks on one key column, two categorical drift checks on
    one column and two differently-binned uniform drift checks on one
    column: key and category counts are kept once per column and drift
    bins per check, so the stream equals the batch run instead of doubling
    counts (20 distinct ids would read as 80 duplicate-row violations) or
    mixing one check's bins into the other's."""
    from pyanomalydetector2_spark.constraints.dsl import UniqueCheck

    schema = "clip_id string, bucket int, codec string, dur_ms double"
    codecs = ("wav", "flac", "mp3")
    cur = local_rows_df(
        spark,
        [(f"c{i}", i % 4, codecs[i % 3], 900.0 * i) for i in range(20)],
        schema,
    )
    base = local_rows_df(
        spark,
        [(f"c{i}", i % 4, codecs[i % 2], 700.0 * i) for i in range(20)],
        schema,
    )
    suite = Suite(
        unique_checks=(UniqueCheck("u1", "clip_id"), UniqueCheck("u2", "clip_id")),
        drift_checks=(
            DriftCheck("d1", "codec", 0, 0, categorical=True),
            DriftCheck("d2", "codec", 0, 0, psi_max=5.0, ks_max=1.0,
                       categorical=True),
            DriftCheck("d25", "dur_ms", 0, 20000, nbins=25),
            DriftCheck("d10", "dur_ms", 1000, 15000, nbins=10, psi_max=5.0),
        ),
    )
    state = str(tmp_path / "state")
    process_suite_batch(cur, 0, state, suite, None, "dup")
    stream_res = streaming_suite_result(spark, state, suite, base, "dup")
    batch_res = run_suite(cur, base, {}, suite, "dup")
    assert not batch_res.violations.collect()
    _assert_results_equal(stream_res, batch_res)
    # each uniform check scores every bucket with its own bins
    psi = {
        (r["constraint_id"], r["bucket"]): r["observed"]
        for r in batch_res.verdicts.filter("metric = 'psi'").collect()
    }
    assert {cid for cid, _ in psi} == {"d1", "d2", "d25", "d10"}
    assert any(psi[("d25", b)] != psi[("d10", b)] for b in range(4))


def test_uniform_drift_checks_sharing_a_column_are_streamable(spark, tmp_path):
    """Uniform drift bins are keyed by check id, so two uniform checks on
    one column are streamable. A state dir pinned under the column-keyed
    ``hist`` signature fails closed instead of merging its bins under the
    new keys."""
    import json as _json

    ensure_streamable(
        Suite(
            drift_checks=(
                DriftCheck("d1", "dur_ms", 0, 10000, nbins=10),
                DriftCheck("d2", "dur_ms", 0, 5000, nbins=20),
                DriftCheck("d3", "dur_ms", 0, 0, nbins=15, equi_depth=True),
            )
        )
    )
    suite = Suite(drift_checks=(DriftCheck("d1", "dur_ms", 0, 10000, nbins=10),))
    cur = local_rows_df(
        spark, [(f"c{i}", i % 2, 300.0 * i) for i in range(20)],
        "clip_id string, bucket int, dur_ms double",
    )
    state = str(tmp_path / "state")
    process_suite_batch(cur, 0, state, suite, None, "hist")
    manifest = f"{state}/suite_manifest.json"
    with open(manifest) as f:
        pinned = _json.load(f)
    assert pinned["hist"] == [["d1", "dur_ms", 0.0, 10000.0, 10]]
    pinned["hist"] = [["dur_ms", 0.0, 10000.0, 10]]  # the column-keyed form
    with open(manifest, "w") as f:
        _json.dump(pinned, f)
    with pytest.raises(ValueError, match=r"signature changed.*\['hist'\]"):
        streaming_suite_result(spark, state, suite, cur, "hist")


def test_row_check_text_change_fails_closed(spark, tmp_path):
    """The violations state stores each row check's observed and expected
    text, so the manifest pins them: a drain with a changed ``observed``
    or ``expected`` raises instead of reporting the old text."""
    from pyanomalydetector2_spark.constraints.dsl import RowCheck

    cur = local_rows_df(
        spark, [(f"c{i}", i % 2, float(i - 1)) for i in range(10)],
        "clip_id string, bucket int, dur_ms double",
    )
    pinned = RowCheck("pos", "dur_ms > 0", "cast(dur_ms as string)", "dur_ms > 0")
    state = str(tmp_path / "state")
    process_suite_batch(cur, 0, state, Suite(row_checks=(pinned,)), None, "rt")
    for changed in (
        RowCheck("pos", "dur_ms > 0", "concat('dur=', cast(dur_ms as string))",
                 "dur_ms > 0"),
        RowCheck("pos", "dur_ms > 0", "cast(dur_ms as string)",
                 "positive duration"),
    ):
        with pytest.raises(ValueError, match="signature changed.*violations"):
            streaming_suite_result(
                spark, state, Suite(row_checks=(changed,)), None, "rt"
            )
    res = streaming_suite_result(spark, state, Suite(row_checks=(pinned,)), None, "rt")
    assert sorted(r["observed"] for r in res.violations.collect()) == ["-1.0", "0.0"]


def _copy_checks(suite: Suite) -> Suite:
    """``suite`` plus a copy of every check under the id ``<id>__copy``."""
    import dataclasses

    return dataclasses.replace(
        suite,
        **{
            f.name: getattr(suite, f.name) + tuple(
                dataclasses.replace(c, constraint_id=f"{c.constraint_id}__copy")
                for c in getattr(suite, f.name)
            )
            for f in dataclasses.fields(suite)
        },
    )


def _result_rows(res) -> list[tuple]:
    """Violation and verdict rows as comparable tuples (NaN observed → None)."""
    import math

    vio = [
        ("violation", r["bucket"], r["constraint_id"], r["clip_id"],
         r["observed"], r["expected"])
        for r in res.violations.collect()
    ]
    ver = [
        ("verdict", r["bucket"], r["constraint_id"], r["metric"],
         None if math.isnan(r["observed"]) else r["observed"],
         r["threshold"], r["passed"], r["violation_cnt"])
        for r in res.verdicts.collect()
    ]
    return sorted(vio + ver, key=repr)


@pytest.mark.parametrize("engine", ["batch", "stream"])
def test_check_duplication_leaves_verdicts_unchanged(spark, tmp_path, engine):
    """Metamorphic gate: copying every check of the default suite under a
    new id leaves every original's verdict and violation rows unchanged,
    and each copy's rows equal its original's under the new id — in the
    batch runner and in the stream over two micro-batches."""
    cur = clips_table(spark, 240, planted=True, n_buckets=4).cache()
    base = clips_table(spark, 240, planted=False, n_buckets=4).cache()
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    suite = default_clips_suite()

    def run(s: Suite, tag: str):
        if engine == "batch":
            return run_suite(cur, base, dims, s, "dupgate")
        state = str(tmp_path / tag)
        for i, half in enumerate(
            (cur.filter("crc32(clip_id) % 2 = 0"),
             cur.filter("crc32(clip_id) % 2 = 1"))
        ):
            process_suite_batch(half, i, state, s, dims, "dupgate")
        return streaming_suite_result(spark, state, s, base, "dupgate")

    orig = _result_rows(run(suite, "orig"))
    dup = _result_rows(run(_copy_checks(suite), "dup"))
    copies = [r[:2] + (f"{r[2]}__copy",) + r[3:] for r in orig]
    assert orig and dup == sorted(orig + copies, key=repr)
    cur.unpersist()
    base.unpersist()


def test_all_null_percentile_column_drains_to_failed_verdict(
    spark, tmp_path
):
    """A percentile-check column that is all-null in EVERY micro-batch
    writes ksketch deltas with zero rows — under AQE those dirs can hold
    no part files at all. The drain must read them against the pinned
    component schema and emit the documented NaN-observed FAILED verdict,
    not die in parquet schema inference."""
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    spark.createDataFrame(
        [(f"c{i}", i % 2, None) for i in range(40)],
        "clip_id string, bucket int, value double",
    ).repartition(2).write.mode("overwrite").parquet(src)
    suite = Suite(stat_checks=(StatCheck("p", "value", "p95", ">", 0.0),))
    run_suite_stream(
        spark, src, state, suite, None, "nul",
        "clip_id string, bucket int, value double",
    )
    res = streaming_suite_result(spark, state, suite, None, "nul")
    rows = res.verdicts.filter("constraint_id = 'p'").collect()
    assert rows and all(not r["passed"] for r in rows)


@pytest.mark.parametrize("engine", ["batch", "stream"])
def test_result_unpersist_releases_every_cache(spark, tmp_path, engine):
    """``SuiteResult.unpersist`` releases every frame the result cached
    (the violations cache included): an uncached input leaves the
    session's cache empty afterwards."""
    from pyanomalydetector2_spark.constraints.dsl import RowCheck, UniqueCheck

    cur = local_rows_df(
        spark,
        [(f"c{i % 30}", i % 4, float(i)) for i in range(40)],
        "clip_id string, bucket int, dur_ms double",
    )
    suite = Suite(
        row_checks=(
            RowCheck("pos", "dur_ms > 0", "cast(dur_ms as string)", "positive"),
        ),
        unique_checks=(UniqueCheck("u", "clip_id"),),
        stat_checks=(StatCheck("m", "dur_ms", "mean", ">", 0.0),),
    )
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    if engine == "batch":
        res = run_suite(cur, cur, {}, suite, "uc")
    else:
        state = str(tmp_path / "state")
        process_suite_batch(cur, 0, state, suite, None, "uc")
        res = streaming_suite_result(spark, state, suite, None, "uc")
    assert res.verdicts.collect() and res.violations.collect()
    res.unpersist()
    assert cache.isEmpty()


@pytest.mark.parametrize("engine", ["batch", "stream"])
@pytest.mark.parametrize("kind", ["uniform", "categorical", "equi_depth"])
def test_all_null_current_drift_column_produces_no_score(
    spark, tmp_path, engine, kind
):
    """A drift column that is all-null in the current rows has nothing to
    score: both engines raise instead of passing vacuously, for uniform,
    categorical and equi-depth drift alike (the stream reads empty
    hist/cats/ehist deltas)."""
    import json as _json

    schema = "clip_id string, bucket int, codec string, dur_ms double"
    cur = local_rows_df(
        spark, [(f"c{i}", i % 2, None, None) for i in range(40)], schema
    )
    base = local_rows_df(
        spark,
        [(f"c{i}", i % 2, ("wav", "flac")[i % 2], 500.0 * i) for i in range(40)],
        schema,
    )
    check = {
        "categorical": DriftCheck("d", "codec", 0.0, 0.0, categorical=True),
        "uniform": DriftCheck("d", "dur_ms", 0.0, 20000.0, nbins=10),
        "equi_depth": DriftCheck("d", "dur_ms", 0, 0, nbins=4, equi_depth=True),
    }[kind]
    suite = Suite(drift_checks=(check,))
    if engine == "batch":
        with pytest.raises(ValueError, match="produced no score"):
            run_suite(cur, base, {}, suite, "nul")
    else:
        state = str(tmp_path / "state")
        # equi-depth edges as a stream pins them
        edges = {"d": {"column": "dur_ms", "edges": [5000.0, 10000.0, 15000.0]}}
        os.makedirs(state)
        with open(f"{state}/equi_edges.json", "w") as f:
            _json.dump(edges, f)
        process_suite_batch(cur, 0, state, suite, None, "nul", equi_edges=edges)
        with pytest.raises(ValueError, match="produced no score"):
            streaming_suite_result(spark, state, suite, base, "nul")


@pytest.mark.parametrize("engine", ["batch", "stream"])
def test_fresh_run_over_empty_current_is_empty(spark, tmp_path, engine):
    """A fresh run over an empty current (no ledger record for the run)
    returns an empty result, not a "produced no score" error from the
    drift checks of the default suite."""
    from pyanomalydetector2_spark.streaming.checkpoint import CheckpointLedger

    cur = clips_table(spark, 64, planted=True, n_buckets=4).filter("false")
    base = clips_table(spark, 64, planted=False, n_buckets=4)
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    suite = default_clips_suite()
    if engine == "batch":
        res = run_suite(
            cur, base, dims, suite, "empty",
            checkpoint=CheckpointLedger(str(tmp_path / "ledger")),
        )
    else:
        state = str(tmp_path / "state")
        process_suite_batch(cur, 0, state, suite, dims, "empty")
        res = streaming_suite_result(spark, state, suite, base, "empty")
    assert res.processed_buckets == [] and res.row_count == 0
    assert not res.verdicts.collect() and not res.violations.collect()


@pytest.mark.parametrize("engine", ["batch", "stream"])
def test_ref_check_rows_equal_referential_violations(spark, tmp_path, engine):
    """A RefCheck is a row predicate in both engines, and its violation
    rows equal the broadcast anti-join's: NULL fact values pass, values
    absent from the dim fail, a NULL or duplicated dim value changes
    nothing, and an int fact column matches a bigint dim."""
    from pyanomalydetector2_spark.constraints.dsl import RefCheck
    from pyanomalydetector2_spark.operators.integrity import (
        referential_violations,
    )

    codecs = ("wav", "flac", "mp3", None)
    rates = (16000, 44100, 8000, None)
    cur = local_rows_df(
        spark,
        [(f"c{i}", i % 3, codecs[i % 4], rates[(i // 4) % 4]) for i in range(32)],
        "clip_id string, bucket int, codec string, sr_hz int",
    )
    dims = {
        "dim_codec": local_rows_df(
            spark, [("wav",), ("wav",), (None,), ("flac",)], "codec string"
        ),
        "dim_sr": local_rows_df(
            spark, [(16000,), (44100,), (16000,), (None,)], "sr_hz bigint"
        ),
    }
    suite = Suite(ref_checks=(
        RefCheck("codec_ref", "codec", "dim_codec"),
        RefCheck("sr_ref", "sr_hz", "dim_sr"),
    ))
    if engine == "batch":
        res = run_suite(cur, cur, dims, suite, "ref")
    else:
        state = str(tmp_path / "state")
        for i, half in enumerate(
            (cur.filter("crc32(clip_id) % 2 = 0"),
             cur.filter("crc32(clip_id) % 2 = 1"))
        ):
            process_suite_batch(half, i, state, suite, dims, "ref")
        res = streaming_suite_result(spark, state, suite, None, "ref")
    expected = sorted(
        (r["bucket"], r["clip_id"], c.constraint_id, str(r[c.column]),
         f"{c.column} in {c.dim_name}")
        for c in suite.ref_checks
        for r in referential_violations(
            cur, c.column, dims[c.dim_name], keep_cols=["clip_id", "bucket"]
        ).collect()
    )
    assert len(expected) == 16  # mp3 rows and 8000 Hz rows
    assert _sorted_violations(res) == expected
    counts = {
        (r["bucket"], r["constraint_id"]): r["violation_cnt"]
        for r in res.verdicts.collect()
    }
    assert sum(counts.values()) == len(expected)


def _small_state_suite():
    """The default suite without its audio row checks (no decode), for
    stream state tests over a few hundred rows."""
    import dataclasses

    full = default_clips_suite()
    return dataclasses.replace(
        full,
        row_checks=tuple(c for c in full.row_checks if not c.requires_audio),
    )


def test_empty_micro_batch_commits_and_changes_no_verdict(spark, tmp_path):
    """An empty micro-batch adds its commit marker and changes no verdict.
    Its driver-written deltas are typed-empty parquet: pyarrow and Spark
    both read the declared schema with zero rows, and compaction folds
    them without changing the result."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from pyanomalydetector2_spark.streaming.suite_stream import (
        _SCHEMAS,
        _arrow_schema,
    )

    cur = clips_table(spark, 240, planted=True, n_buckets=4).cache()
    base = clips_table(spark, 240, planted=False, n_buckets=4).cache()
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    suite = _small_state_suite()
    state = str(tmp_path / "state")
    process_suite_batch(cur, 0, state, suite, dims, "emp")
    before = streaming_suite_result(spark, state, suite, base, "emp")
    process_suite_batch(cur.filter("false"), 1, state, suite, dims, "emp")
    assert [m["rows"] for m in batch_metrics(state)] == [240, 0]
    after = streaming_suite_result(spark, state, suite, base, "emp")
    assert _sorted_verdicts(after) == _sorted_verdicts(before)
    assert _sorted_violations(after) == _sorted_violations(before)
    for comp in ("buckets", "profile", "hist", "cats"):
        delta = f"{state}/{comp}/batch=1"
        table = pq.read_table(delta)
        assert table.num_rows == 0
        assert table.schema.equals(_arrow_schema(_SCHEMAS[comp]))
        read = spark.read.parquet(delta)
        assert read.count() == 0
        assert read.schema.simpleString() == (
            StructType.fromDDL(_SCHEMAS[comp]).simpleString()
        )
    assert compact_suite_state(spark, state) == 1
    folded = streaming_suite_result(spark, state, suite, base, "emp")
    assert _sorted_verdicts(folded) == _sorted_verdicts(before)
    cur.unpersist()
    base.unpersist()


def test_torn_driver_write_is_invisible_and_replaced(spark, tmp_path):
    """A crash inside a micro-batch's driver writes leaves a temp dir and a
    half-written delta with no commit marker. Listing the deltas, the
    drain and compaction all ignore both; the redelivered batch replaces
    them, and the result equals the batch run."""
    from pyanomalydetector2_spark.streaming.state import batch_dirs

    cur = clips_table(spark, 240, planted=True, n_buckets=4).cache()
    base = clips_table(spark, 240, planted=False, n_buckets=4).cache()
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}
    suite = _small_state_suite()
    halves = (cur.filter("crc32(clip_id) % 2 = 0"),
              cur.filter("crc32(clip_id) % 2 = 1"))
    state = str(tmp_path / "state")
    process_suite_batch(halves[0], 0, state, suite, dims, "torn")
    first = streaming_suite_result(spark, state, suite, base, "torn")
    # batch 1 crashed: one delta torn mid-file, another still under its
    # temp name, and no commit marker
    for path in (f"{state}/profile/batch=1", f"{state}/hist/_tmp_batch=1"):
        os.makedirs(path)
        with open(f"{path}/part-0.parquet", "wb") as f:
            f.write(b"PAR1 torn")
    assert [n for n, _ in batch_dirs(f"{state}/hist")] == [0]
    torn = streaming_suite_result(spark, state, suite, base, "torn")
    assert _sorted_verdicts(torn) == _sorted_verdicts(first)
    assert compact_suite_state(spark, state) == 0

    process_suite_batch(halves[1], 1, state, suite, dims, "torn")
    assert not os.path.exists(f"{state}/hist/_tmp_batch=1")
    _assert_results_equal(
        streaming_suite_result(spark, state, suite, base, "torn"),
        run_suite(cur, base, dims, suite, "torn"),
    )
    cur.unpersist()
    base.unpersist()
