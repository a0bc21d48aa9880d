"""Streaming constraint validation: the batch suite's semantics over a
Structured Streaming drain, with per-micro-batch incremental state.

The batch runner (constraints/suite.py) makes one pass per check family
over the full table. At 10^12 rows with continuous arrival, re-validating
the corpus per delivery is not an option — but every family the default
clips suite uses is **algebraically mergeable**, so the stream keeps
per-batch partial state and the one-shot result is reproducible at any
time without touching a single already-processed row. The batch
runner's own builders give the per-bucket summary (row counts, moments,
drift bins, categories: ``suite.suite_summary``) and the row/ref
violation and sketch components (``suite.suite_state_frames``); the
stream adds the uniqueness, FD and reconcile counts:

- row / referential checks are stateless per row → violation rows append;
- column stats keep (row_cnt, cnt, null_cnt, min, max, sum, sqr_sum) per
  (bucket, column) — counts/sums add, min/max combine
  (stats.profile_partial_aggs; same closed-form mean/std finalize as
  the one-shot profile);
- percentile StatChecks ("p95" etc.) keep one KLL sketch row per
  (column, bucket) per batch (operators/kll.py — weight-conserving merge
  is exact state algebra); sketches merge at drain/compaction and the
  nearest-rank quantile is finalized once with the same KLL kernels the
  batch runner's Spark merge runs, so pXX has ONE definition;
- numeric drift keeps integer bin counts per (check, bucket) —
  keyed by check id, so checks that share a column keep their own bins —
  and categorical drift keeps category counts per (column, bucket):
  exactly additive, so merged counts score identically to the one-shot
  pass (``suite_verdict_rows`` scores both engines' counts);
- uniqueness keeps per-(bucket, key) counts — additive; the HLL screen
  estimate recomputed over the stored (string-cast) key set equals the
  batch estimate bit-for-bit because the batch runner hashes the SAME
  string cast — identical HLL++ inputs at every cardinality;
- functional dependencies keep per-(check, determinant, dependent) pair
  counts with min key/bucket exemplars — additive; the n_values > 1
  group decision over merged pairs is exact. Values cross the shared
  state schema STRINGIFIED (same policy as the ids component): exact for
  atomic types (Spark's numeric→string casts are injective), with the
  min/max conflict witnesses becoming lexicographic, and composite
  determinants whose values contain ',' can collide in the group label —
  use the batch suite for those;
- reconcile checks keep per-(check, key, compare-tuple, bucket) row
  counts — additive, and exactly the information ``snapshot_diff``'s
  full-outer join consumes. At drain time the current snapshot is
  reconstructed from the merged counts (multiplicity replayed by
  exploding each count) and diffed against the static baseline with the
  batch runner's own operator + the SHARED violation/rate-verdict
  helpers, so added/removed/changed rows — including duplicate-key join
  multiplicity — are byte-identical to the one-shot run. Compare values
  cross the state schema STRINGIFIED like the other components: exact
  for atomic types, with two documented seams — Spark's typed compare
  treats -0.0 == 0.0 and array/struct compare columns have no injective
  string form; use the batch suite for those.

- equi-depth drift streams too, via the persisted KLL sketch store
  (operators/kll.py): bin edges are resolved ONCE from the baseline's
  sketch state and PINNED in the state dir (``equi_edges.json``) so every
  batch's edge-binned counts — and the drain's baseline binning — share
  one meaning across restarts; from there it is the same exactly-additive
  integer-count state as uniform drift.

The suite's state-shaping definitions (``suite.suite_components``: which
components it needs and what each was built from, row-check text and
drift bins included) are pinned in ``suite_manifest.json``; a suite that
changes them mid-stream fails closed.

The drain (``streaming_suite_result``) finalizes every verdict on the
driver. Small state — per-bucket row counts, moments, bins, category
counts, sketches: kilobytes, whatever the row count — is read with
pyarrow, never through a Spark job, and handed with the baseline side
(``suite.baseline_collects``, the batch runner's) to
``suite.suite_verdict_rows``, which merges it and scores every drift
check for both engines. Only the row-scale state (violations, ids, FD
pairs, reconcile counts) stays in Spark, and only counts cross from it.
The verdicts come back as one local frame.

Checks that are NOT mergeable are rejected up front
(``ensure_streamable``): distributed-mode drift (it scores in Spark with
no histogram on the driver, and keeps no state), and StatChecks on the
raw ``quantiles``/``approx_distinct`` profile outputs (use pXX percentile
stats, which stream exactly; ``suite.ensure_known_stats``, which the
batch runner applies too) — a silently-wrong streaming verdict would be
worse than an error.

State layout (streaming/state.py delta-dir pattern, shared with the
audio-ingest index): each component writes ``<comp>/batch=N`` parquet
deltas. The summary components (``buckets``, ``profile``, ``hist``,
``ehist``, ``cats``) come from one collect of the batch's summary and the
driver writes them with pyarrow, one file each, under a temp name that
``state.batch_dirs`` does not list, renamed into place; the row-scale and
sketch components are Spark writes. A ``commit/batch=N.json`` marker
(with per-batch lineage metrics: rows, buckets, wall) lands LAST, so a
torn batch is invisible to readers and Structured Streaming's redelivery
overwrites it idempotently — exactly-once state without a transactional
store. ``compact_suite_state`` folds committed deltas into a ``gen=N``
base (additive merge for counts, plain concat for violations) so read
cost stays flat over thousands of micro-batches; the fold reads only
COMMITTED batch ids, which closes the torn-batch-orphan-delta hazard
(ADVICE r04) by construction.

Reference analog: the incremental trends_stats maintenance
(trends_stats.py:24-60 — per-epoch moment upsert) generalized to every
check family; resumability mirrors the reference's per-run checkpoint
(detect_anomalies.py:49-77) at micro-batch granularity.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pyanomalydetector2_spark.constraints.dsl import Suite
from pyanomalydetector2_spark.constraints.suite import (
    STATE_SCHEMAS,
    VIOLATION_SCHEMA,
    VERDICT_SCHEMA,
    SuiteResult,
    baseline_collects,
    ensure_known_stats,
    reconcile_violation_frame,
    sketch_store_edges,
    split_summary,
    suite_components,
    suite_state_frames,
    suite_summary,
    suite_verdict_rows,
    violation_counts_frame,
)
from pyanomalydetector2_spark.functions import (
    collect_concurrently,
    conform,
    empty_frame,
    local_rows_df,
)
from pyanomalydetector2_spark.operators.integrity import fd_det_repr, fd_observed
from pyanomalydetector2_spark.operators.reconcile import snapshot_diff
from pyanomalydetector2_spark.streaming.state import batch_dirs, latest_gen

# every state component's declared schema: the shared ones
# (``suite.STATE_SCHEMAS``), then the stream's own
_SCHEMAS = {
    **STATE_SCHEMAS,
    "buckets": "bucket int, n long",
    "ids": "column string, bucket int, key string, cnt long",
    "fdpairs": "cid string, det string, dep string, cnt long, k string, b int",
    "recon": "cid string, key string, vals array<string>, b int, cnt long",
}


def ensure_streamable(suite: Suite) -> None:
    """Reject checks whose state cannot be maintained from mergeable
    scalars — erroring beats a silently-wrong streaming verdict."""
    for c in suite.drift_checks:
        if c.distributed:
            raise ValueError(
                f"streaming suite: drift check {c.constraint_id!r} uses "
                "distributed mode — streaming drain scoring is the driver "
                "funnel over merged counts; use uniform/equi-depth/"
                "categorical drift"
            )
    ensure_known_stats(suite)


def _committed(state_dir: str) -> list[int]:
    cdir = f"{state_dir}/commit"
    if not os.path.isdir(cdir):
        return []
    return sorted(
        int(f[len("batch="):-len(".json")])
        for f in os.listdir(cdir)
        if f.startswith("batch=") and f.endswith(".json")
    )


def batch_metrics(state_dir: str) -> list[dict]:
    """Per-batch lineage/metrics rows (rows, buckets, wall, finish time) —
    the stream's observability surface, written with the commit marker."""
    out = []
    for n in _committed(state_dir):
        with open(f"{state_dir}/commit/batch={n}.json") as f:
            out.append(json.load(f))
    return out


def _component_state(
    state_dir: str, comp: str, committed: set[int]
) -> tuple[int, list[str], list[int]]:
    """Resolve one component's readable state: ``(folded_thru, paths,
    missing)``. ``paths`` is the compacted base (if any) plus every
    COMMITTED delta strictly after it; ``missing`` lists committed batch
    ids after the base with NO delta — i.e. checks of this family were
    added after those batches were processed. ONE resolver shared by the
    drain read, the coverage guard, and compaction, so the base/delta
    interaction (which once let compaction defeat the coverage guard) is
    decided in exactly one place."""
    base = latest_gen(f"{state_dir}/{comp}_base")
    folded_thru = base[0] if base else -1
    deltas = [
        (n, d)
        for n, d in batch_dirs(f"{state_dir}/{comp}")
        if n > folded_thru and n in committed
    ]
    have = {n for n, _ in deltas}
    missing = sorted(n for n in committed if n > folded_thru and n not in have)
    paths = ([base[1]] if base else []) + [d for _, d in deltas]
    return folded_thru, paths, missing


def _require_component_coverage(state_dir: str, comp: str) -> None:
    """A component the suite needs must have a delta (or be inside the
    folded base) for EVERY committed batch. A committed batch with no delta
    means checks of this family were ADDED after that batch was processed —
    merged state would silently exclude its rows, and a silently-partial
    verdict is the engine's stated nightmare. Erroring sends the operator
    to a fresh state dir (or a batch backfill). ``compact_suite_state``
    refuses to fold an uncovered component, so compaction can never launder
    the gap into the base."""
    _, _, missing = _component_state(state_dir, comp, set(_committed(state_dir)))
    if missing:
        raise ValueError(
            f"streaming state at {state_dir}: component {comp!r} has no "
            f"delta for committed batch(es) {missing} — checks of this "
            "family were added after those batches were processed; use a "
            "fresh state dir (merged state would silently exclude them)"
        )


def _pin_suite_manifest(
    state_dir: str, suite: Suite, key_col: str, bucket_col: str
) -> None:
    """Pin the suite's state signature in the state dir and fail closed on
    any later change. The component-level coverage guard only catches a
    check family that is entirely NEW (its component has no deltas for old
    batches); a check added to an EXISTING family — a second UniqueCheck
    column, a new RowCheck id, another percentile column — leaves every
    component covered while its merged state silently excludes all earlier
    batches' rows. The manifest closes that hole: while any batch is
    committed, the suite's state-shaping definitions must be EXACTLY the
    pinned ones (thresholds excluded — see suite.suite_components)."""
    sig = {
        "key_col": key_col, "bucket_col": bucket_col, **suite_components(suite)
    }
    path = f"{state_dir}/suite_manifest.json"
    if not _committed(state_dir):
        # nothing processed yet — (re)pin freely
        os.makedirs(state_dir, exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(sig, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
        return
    if not os.path.exists(path):
        raise ValueError(
            f"streaming state at {state_dir} has committed batches but no "
            "suite manifest — the state predates per-check pinning or was "
            "written outside this module; use a fresh state dir"
        )
    with open(path) as f:
        pinned = json.load(f)
    if pinned != sig:
        changed = sorted(
            set(pinned) ^ set(sig)
            | {k for k in set(pinned) & set(sig) if pinned[k] != sig[k]}
        )
        raise ValueError(
            f"streaming state at {state_dir}: suite state signature changed "
            f"for component(s) {changed} — checks of this component were "
            "added after batches were committed (or removed/redefined), so "
            f"merged state would silently misreport them (pinned in {path}; "
            "thresholds may change freely, state-shaping definitions may "
            "not) — use a fresh state dir"
        )


def _arrow_schema(schema: str) -> pa.Schema:
    return to_arrow_schema(StructType.fromDDL(schema))


def _write_delta(state_dir: str, comp: str, batch_id: int, rows: list) -> None:
    """Write one small component's delta from the driver: ``rows`` as one
    parquet file of the component's declared schema, written under a temp
    name that ``batch_dirs`` does not list (its leading ``_`` also hides
    it from Spark's and pyarrow's readers), then renamed to
    ``<comp>/batch=N``. A crash leaves at most that temp dir or a delta
    with no commit marker: both are invisible to readers, and the
    redelivered batch replaces them."""
    final = f"{state_dir}/{comp}/batch={batch_id}"
    tmp = f"{state_dir}/{comp}/_tmp_batch={batch_id}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=_arrow_schema(_SCHEMAS[comp])),
        f"{tmp}/part-0.parquet",
    )
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def _read_component(
    spark: SparkSession, state_dir: str, comp: str, schema: str
) -> DataFrame:
    """Read a component's compacted base (if any) plus every COMMITTED
    delta after it. Uncommitted (torn) deltas are invisible. The schema is
    PINNED on the read: a delta whose frame was empty can plan to zero
    part files under AQE (dir holds only _SUCCESS), and an inferring read
    over such dirs dies with UNABLE_TO_INFER_SCHEMA instead of producing
    the documented empty-state verdicts."""
    _, paths, _ = _component_state(state_dir, comp, set(_committed(state_dir)))
    if paths:
        return spark.read.schema(schema).parquet(*paths)
    return empty_frame(spark, schema)


def resolve_equi_edges(
    spark: SparkSession,
    state_dir: str,
    suite: Suite,
    sketch_store=None,
) -> dict[str, dict]:
    """Resolve the equi-depth drift checks' bin edges ONCE per stream and
    pin them in the state dir (``equi_edges.json``, atomic write): every
    batch's edge-binned counts and the drain's baseline binning MUST use the
    same edges, across process restarts and sketch-store compactions, or
    merged bins would mix meanings. Edges come from the persisted KLL sketch
    store (operators/kll.py — bootstrap it with a batch run_suite(
    sketch_store=...) or an offline kll_build over the baseline); a stream
    has no baseline frame to rescan, which is exactly the point."""
    eq = [
        c for c in suite.drift_checks if c.equi_depth and not c.categorical
    ]
    if not eq:
        return {}
    path = f"{state_dir}/equi_edges.json"
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
        missing = [c.constraint_id for c in eq if c.constraint_id not in stored]
        if missing:
            raise ValueError(
                f"streaming state at {state_dir} has pinned equi-depth edges "
                f"but not for check(s) {missing} — new equi-depth checks "
                "cannot join a stream mid-flight (their earlier batches were "
                "never binned); start a fresh state dir"
            )
        return stored
    if sketch_store is None:
        raise ValueError(
            "equi-depth drift in the streaming suite needs a sketch_store "
            "(persisted per-column KLL baseline state, operators/kll.py) — "
            "bootstrap it via the batch suite's run_suite(sketch_store=...) "
            "or an offline kll_build over the baseline snapshot"
        )
    if sketch_store.current_snapshot() is None:
        raise ValueError(
            "equi-depth drift: the sketch_store is empty — bootstrap it "
            "from the baseline snapshot first"
        )
    edges = sketch_store_edges(spark, sketch_store, eq)
    out: dict[str, dict] = {}
    for c in eq:
        if not edges[c.constraint_id]:
            raise ValueError(
                f"equi-depth drift check {c.constraint_id!r}: the sketch "
                f"store has no state for column {c.column!r}"
            )
        out[c.constraint_id] = {"column": c.column, "edges": edges[c.constraint_id]}
    os.makedirs(state_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def process_suite_batch(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    suite: Suite,
    dims: dict[str, DataFrame] | None,
    run_id: str,
    key_col: str = "clip_id",
    bucket_col: str = "bucket",
    equi_edges: dict[str, dict] | None = None,
) -> None:
    """Validate one micro-batch and append its partial state. Idempotent
    per batch id: a redelivered batch overwrites its own deltas; the
    commit marker lands last, so a crash mid-batch leaves no visible
    state."""
    marker = f"{state_dir}/commit/batch={batch_id}.json"
    if os.path.exists(marker):
        return  # redelivery of a fully committed batch — no-op
    _pin_suite_manifest(state_dir, suite, key_col, bucket_col)
    t0 = time.time()
    spark = batch.sparkSession

    # The batch's per-bucket summary (row counts, moments, drift bins and
    # category counts: the batch runner's own ``suite_summary``, with the
    # stream's PINNED equi-depth edges from resolve_equi_edges) is one
    # collect; its rows are kilobytes whatever the batch size, so the
    # driver writes those components itself. Every row-scale or sketch
    # component is built and written in its own thread, as CONCURRENT
    # Spark jobs beside that collect: each reads its own column-pruned
    # slice of the batch, so the jobs contend only for executor slots, and
    # the per-batch wall is max(job), not sum(job) — which keeps
    # small-micro-batch fixed cost flat. (The audio decode pass, when
    # present, rides ONLY the violations job.)
    pinned = {
        cid: [float(e) for e in meta["edges"]]
        for cid, meta in (equi_edges or {}).items()
    }
    edges = (lambda: pinned) if pinned else None
    builds = suite_state_frames(
        batch, suite, dims or {}, run_id, key_col, bucket_col
    )
    comps = suite_components(suite)

    def ids() -> DataFrame:
        # uniqueness key counts, once per column (cast to string at the
        # shared-schema boundary; the HLL screen re-runs on these keys and
        # the default clips key is already a string)
        return reduce(DataFrame.unionByName, [
            batch.groupBy(
                F.col(bucket_col).cast("int").alias("bucket"),
                F.col(col).cast("string").alias("key"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit(col).alias("column"), "bucket", "key", "cnt")
            for col in comps["ids"]
        ])

    def fdpairs() -> DataFrame:
        # FD pair counts: (check, determinant repr, dependent) → additive
        # cnt plus min key/bucket exemplars. Values are STRINGIFIED at the
        # shared-schema boundary (same policy as the ids component): the
        # n_values>1 decision is exact for atomic types (Spark's
        # numeric→string casts are injective); only the min/max conflict
        # WITNESSES become lexicographic.
        return reduce(DataFrame.unionByName, [
            batch.groupBy(
                fd_det_repr(list(c.determinant)).alias("det"),
                F.col(c.dependent).cast("string").alias("dep"),
            )
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min(F.col(key_col).cast("string")).alias("k"),
                F.min(F.col(bucket_col).cast("int")).alias("b"),
            )
            .select(F.lit(c.constraint_id).alias("cid"), "det", "dep", "cnt", "k", "b")
            for c in suite.fd_checks
        ])

    def recon() -> DataFrame:
        # reconcile row counts: (check, key, STRINGIFIED compare tuple,
        # bucket) → additive cnt — exactly what snapshot_diff's full-outer
        # join needs, including duplicate-key multiplicity (replayed at
        # drain time by exploding the merged count)
        return reduce(DataFrame.unionByName, [
            batch.groupBy(
                F.col(key_col).cast("string").alias("key"),
                F.array(
                    *[F.col(x).cast("string") for x in c.compare_cols]
                ).alias("vals"),
                F.col(bucket_col).cast("int").alias("b"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.lit(c.constraint_id).alias("cid"), "key", "vals", "b", "cnt"
            )
            for c in suite.reconcile_checks
        ])

    # conform to the component's DECLARED schema before writing: the drain
    # and compaction read with that schema pinned (empty deltas have no
    # footer to infer from)
    for comp, build in (("ids", ids), ("fdpairs", fdpairs), ("recon", recon)):
        if comp in comps:
            builds[comp] = lambda comp=comp, build=build: conform(
                build(), _SCHEMAS[comp]
            )

    got = collect_concurrently(
        spark,
        {
            "summary": lambda: suite_summary(
                batch, suite, bucket_col, edges
            ).collect(),
            **{
                comp: (
                    lambda comp=comp, build=build: build().write.mode(
                        "overwrite"
                    ).parquet(f"{state_dir}/{comp}/batch={batch_id}")
                )
                for comp, build in builds.items()
            },
        },
    )
    state = split_summary(got["summary"], suite)
    for comp in ("buckets", "profile", "hist", "ehist", "cats"):
        if comp == "buckets" or (
            comp in comps and (comp != "ehist" or edges is not None)
        ):
            _write_delta(state_dir, comp, batch_id, state[comp])

    # commit marker LAST — with the batch's lineage metrics
    os.makedirs(f"{state_dir}/commit", exist_ok=True)
    tmp = f"{marker}.tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "batch": int(batch_id),
                "rows": sum(r["n"] for r in state["buckets"]),
                "buckets": len(state["buckets"]),
                "wall_sec": round(time.time() - t0, 3),
                "finished_at": time.time(),
            },
            f,
        )
    os.replace(tmp, marker)


def run_suite_stream(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    suite: Suite,
    dims: dict[str, DataFrame] | None,
    run_id: str,
    schema: str,
    key_col: str = "clip_id",
    bucket_col: str = "bucket",
    max_files_per_trigger: int = 1,
    shuffle_partitions: int | None = None,
    sketch_store=None,
) -> None:
    """Drain everything currently in ``source_dir`` through the validator
    (Trigger.AvailableNow), micro-batch by micro-batch. Re-invoking after
    new files arrive resumes from the stream checkpoint — already-
    validated files are never re-read, and ``streaming_suite_result``
    reflects all committed batches at any point."""
    ensure_streamable(suite)
    equi_edges = resolve_equi_edges(spark, state_dir, suite, sketch_store)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))

    def process(b: DataFrame, i: int) -> None:
        process_suite_batch(
            b, i, state_dir, suite, dims, run_id,
            key_col=key_col, bucket_col=bucket_col, equi_edges=equi_edges,
        )

    try:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", f"{state_dir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _arrow_state(
    state_dir: str, comp: str, schema: str, committed: set[int]
) -> pa.Table:
    """Read a small component's committed state on the driver with pyarrow
    — no Spark job. The paths come from ``_component_state``, so the
    base/delta/``_SUCCESS`` rule and torn-batch invisibility are the Spark
    reader's; tables concatenate in batch order (base first). The declared
    schema is pinned, so a delta dir holding only ``_SUCCESS`` (an empty
    frame under AQE) reads as typed-empty."""
    arrow_schema = _arrow_schema(schema)
    _, paths, _ = _component_state(state_dir, comp, committed)
    return pa.concat_tables(
        [arrow_schema.empty_table()]
        + [
            ds.dataset(p, format="parquet", schema=arrow_schema).to_table()
            for p in paths
        ]
    )


def _sum_by(table: pa.Table, keys: list[str], col: str) -> list[dict]:
    """The additive merge of count state: ``col`` summed per ``keys``, as
    row dicts."""
    return [
        {**{k: r[k] for k in keys}, col: r[f"{col}_sum"]}
        for r in table.group_by(keys).aggregate([(col, "sum")]).to_pylist()
    ]


def streaming_suite_result(
    spark: SparkSession,
    state_dir: str,
    suite: Suite,
    baseline: DataFrame | None,
    run_id: str,
    key_col: str = "clip_id",
    bucket_col: str = "bucket",
) -> SuiteResult:
    """Assemble the suite verdict over everything committed so far — the
    same VERDICT/VIOLATION frames the one-shot runner emits over the union
    of all processed batches, computed purely from merged state (no source
    re-scan). Equality with the batch runner is pytest-pinned.

    Every verdict row is finalized on the driver. The small state
    (buckets, profile, hist, ehist, cats, ksketch) is read with pyarrow;
    ``suite_verdict_rows``, the batch runner's own finalizer, merges and
    scores it into verdict rows. The row-scale state
    (violations, ids, fdpairs, recon) stays in Spark as the cached
    ``violations`` frame; only counts cross to the driver: violations per
    (bucket, constraint, change kind), the HLL estimates, and the
    baseline's histogram, category counts and per-bucket rows.
    ``verdicts`` is one Arrow-backed local frame, deliberately not cached:
    it collects without a Spark job. Driver memory is O(buckets ×
    constraints) verdict rows plus O(buckets × bins) drift state — the
    bound the uniform-drift funnel already had."""
    ensure_streamable(suite)
    # fail closed on a suite that changed shape mid-stream: the manifest
    # pins per-check state signatures (catches additions WITHIN a family),
    # and every component this drain reads must cover every committed
    # batch (catches a family that is entirely new, or legacy state dirs
    # without a manifest)
    _pin_suite_manifest(state_dir, suite, key_col, bucket_col)
    comps = suite_components(suite)
    for comp in ["buckets", *comps]:
        _require_component_coverage(state_dir, comp)
    if baseline is None:
        for family, checks in (
            ("reconcile", suite.reconcile_checks),
            ("drift", suite.drift_checks),
        ):
            if checks:
                raise ValueError(
                    f"streaming suite has {family} checks but no baseline "
                    "frame was provided"
                )
    t0 = time.time()
    committed = set(_committed(state_dir))

    def small_state(comp: str) -> pa.Table:
        return _arrow_state(state_dir, comp, _SCHEMAS[comp], committed)

    bucket_rows = {
        int(r["bucket"]): int(r["n"])
        for r in _sum_by(small_state("buckets"), ["bucket"], "n")
    }
    buckets = sorted(bucket_rows)
    row_count = sum(bucket_rows.values())
    if not buckets:
        return SuiteResult(
            run_id,
            empty_frame(spark, VERDICT_SCHEMA),
            empty_frame(spark, VIOLATION_SCHEMA),
            [], [], 0, 0.0,
        )

    # the baseline feeds the reconcile diff and one small collect per
    # drift family; when it is a DERIVED frame every reference re-executes
    # the derivation. Materialize it once, pruned to the columns the
    # checks read (guide 7.2: duplicated subtrees).
    base_cols = {c.column for c in suite.drift_checks}
    if suite.reconcile_checks:
        base_cols |= {key_col, bucket_col}
        base_cols |= {x for c in suite.reconcile_checks for x in c.compare_cols}
    if base_cols:
        baseline = baseline.select(*sorted(base_cols)).localCheckpoint()

    # ---- violations: stored row/ref deltas + uniqueness from merged ids --
    violations = _read_component(
        spark, state_dir, "violations", VIOLATION_SCHEMA
    )
    merged_ids = None
    if suite.unique_checks:
        merged_ids = (
            _read_component(spark, state_dir, "ids", _SCHEMAS["ids"])
            .groupBy("column", "bucket", "key")
            .agg(F.sum("cnt").alias("cnt"))
            .cache()
        )
    for c in suite.unique_checks:
        col_ids = merged_ids.filter(F.col("column") == c.column)
        # exact violations: one row PER PARTICIPATING ROW of a duplicated
        # key — the batch runner's duplicate_rows multiset, reproduced by
        # exploding the merged per-(bucket, key) count. The dup decision
        # groups by KEY ONLY (matching exact_duplicates): a key duplicated
        # ACROSS buckets is still a duplicate, and observed carries the
        # key's TOTAL count while each row keeps its own bucket.
        totals = col_ids.groupBy("key").agg(
            F.sum("cnt").alias("dup_cnt")
        ).filter(F.col("dup_cnt") > 1)
        # plain equi-join, NOT a forced broadcast: the duplicated-key set
        # is data-proportional (a few % dup rate at 10^12 rows is billions
        # of keys), so the driver must never be required to hold it; AQE
        # still broadcasts when the actual total is small
        dup = (
            col_ids.join(totals, "key", "inner")
            .select(
                F.lit(run_id).alias("run_id"),
                F.col("bucket").cast("int").alias("bucket"),
                F.col("key").alias("clip_id"),
                F.lit(c.constraint_id).alias("constraint_id"),
                F.concat(F.lit("dup_cnt="), F.col("dup_cnt")).alias(
                    "observed"
                ),
                F.lit(f"unique {c.column}").alias("expected"),
                F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("_i"),
            )
            .drop("_i")
        )
        violations = violations.unionByName(dup)

    # ---- FD violations from merged pair counts ----------------------------
    if suite.fd_checks:
        merged_fd = (
            _read_component(spark, state_dir, "fdpairs", _SCHEMAS["fdpairs"])
            .groupBy("cid", "det", "dep")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.min("k").alias("k"),
                F.min("b").alias("b"),
            )
            .groupBy("cid", "det")
            .agg(
                F.count(F.lit(1)).alias("n_values"),
                F.sum("cnt").alias("n_rows"),
                F.min("dep").alias("dep_min"),
                F.max("dep").alias("dep_max"),
                F.min("k").alias("k"),
                F.min("b").alias("b"),
            )
            .filter(F.col("n_values") > 1)
        )
        expected_by_cid = {
            c.constraint_id: (
                f"{c.dependent} functionally determined by "
                f"({', '.join(c.determinant)})"
            )
            for c in suite.fd_checks
        }
        expected = F.lit(None).cast("string")
        for cid, text in expected_by_cid.items():
            expected = F.when(F.col("cid") == cid, F.lit(text)).otherwise(
                expected
            )
        fd_viol = merged_fd.select(
            F.lit(run_id).alias("run_id"),
            F.col("b").cast("int").alias("bucket"),
            F.col("k").alias("clip_id"),
            F.col("cid").alias("constraint_id"),
            fd_observed(
                F.col("det"),
                F.col("n_values"),
                F.col("n_rows"),
                F.col("dep_min"),
                F.col("dep_max"),
            ).alias("observed"),
            expected.alias("expected"),
        )
        violations = violations.unionByName(fd_viol)

    # ---- reconcile violations: reconstruct the current snapshot from ------
    # merged (key, compare-tuple, bucket) counts — multiplicity replayed by
    # exploding each count — then run the batch runner's OWN snapshot_diff
    # against the string-cast baseline. String casts are injective for
    # atomic types, so the null-safe compares match the typed batch diff.
    if suite.reconcile_checks:
        recon = _read_component(spark, state_dir, "recon", _SCHEMAS["recon"])
        for c in suite.reconcile_checks:
            cols = list(c.compare_cols)
            merged_rec = (
                recon.filter(F.col("cid") == c.constraint_id)
                .groupBy("key", "vals", "b")
                .agg(F.sum("cnt").alias("cnt"))
            )
            cur_re = merged_rec.select(
                F.col("key").alias(key_col),
                *[F.col("vals").getItem(i).alias(x) for i, x in enumerate(cols)],
                F.col("b").alias("bucket"),
                F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("_i"),
            ).drop("_i")
            base_cast = baseline.select(
                F.col(key_col).cast("string").alias(key_col),
                *[F.col(x).cast("string").alias(x) for x in cols],
                F.col(bucket_col).cast("int").alias("bucket"),
            )
            diff = snapshot_diff(
                base_cast, cur_re, [key_col], cols, carry_cols=["bucket"]
            )
            violations = violations.unionByName(
                reconcile_violation_frame(diff, c, run_id, key_col, "bucket")
            )
    violations = violations.cache()

    # ---- the Spark half: only counts cross to the driver. The collects
    # are independent, so they run as CONCURRENT jobs (wall = the slowest,
    # the violations materialization, not the sum of the small ones).
    # One job materializes the violations cache and counts it per (bucket,
    # constraint), reconcile rows also per change kind; the baseline side
    # is the batch runner's, binned with the stream's PINNED edges.
    edges = {
        cid: [float(e) for e in meta["edges"]]
        for cid, meta in resolve_equi_edges(spark, state_dir, suite, None).items()
    }
    collects = {
        "violations": lambda: violation_counts_frame(violations, suite).collect()
    }
    if merged_ids is not None:
        # HLL screen recomputed over the stored key set — identical to the
        # batch estimate: keys cross the state schema string-cast
        # (injective for atomic types), and the batch runner hashes the
        # SAME string cast (constraints/suite.py hll_aggs), so both sides
        # feed HLL++ identical hash inputs at every cardinality. The
        # bucket-key column sums per-bucket estimates, others get a global
        # sketch — the batch runner's split.
        collects["hll"] = lambda: merged_ids.groupBy(
            "column",
            F.when(F.col("column") == key_col, F.col("bucket")).alias("g"),
        ).agg(F.approx_count_distinct("key", 0.02).alias("est")).collect()
    base_collects = baseline_collects(baseline, suite, bucket_col, lambda: edges)
    got = collect_concurrently(spark, {**collects, **base_collects})
    if merged_ids is not None:
        merged_ids.unpersist()

    # ---- the driver half: every verdict row, drift scores included,
    # through the batch runner's own finalizer over the merged small state
    hll: dict[str, int] = {}
    for r in got.get("hll", []):
        hll[r["column"]] = hll.get(r["column"], 0) + r["est"]
    rows = suite_verdict_rows(
        suite, run_id, buckets, row_count, hll, got["violations"],
        {
            comp: small_state(comp).to_pylist()
            for comp in comps
            if comp in STATE_SCHEMAS and comp != "violations"
        },
        {k: got[k] for k in base_collects},
        [],
    )

    return SuiteResult(
        run_id,
        local_rows_df(spark, rows, VERDICT_SCHEMA),
        violations,
        buckets,
        [],
        row_count,
        time.time() - t0,
        cached=(violations,),
        bucket_rows=bucket_rows,
    )


# ---------------------------------------------------------------------------
# state maintenance


# comp -> (group keys, {col: agg}) of the additive count state
_ADDITIVE: dict[str, tuple[list[str], dict[str, str]]] = {
    "buckets": (["bucket"], {"n": "sum"}),
    "profile": (
        ["bucket", "column"],
        {
            "row_cnt": "sum", "cnt": "sum", "null_cnt": "sum",
            "min": "min", "max": "max", "sum": "sum", "sqr_sum": "sum",
        },
    ),
    "hist": (["cid", "g", "b"], {"n": "sum"}),
    "ehist": (["cid", "g", "b"], {"n": "sum"}),
    "cats": (["column", "bucket", "cat"], {"cur_cat_n": "sum"}),
    "ids": (["column", "bucket", "key"], {"cnt": "sum"}),
    "fdpairs": (["cid", "det", "dep"], {"cnt": "sum", "k": "min", "b": "min"}),
    "recon": (["cid", "key", "vals", "b"], {"cnt": "sum"}),
}


def compact_suite_state(spark: SparkSession, state_dir: str) -> int:
    """Fold all COMMITTED deltas of every component into a new compacted
    generation (additive merge for count state, plain concat for the
    violation log), keyed on the newest committed batch id. Only committed
    ids are folded — an uncommitted (torn) trailing batch keeps its
    deltas for the stream's redelivery, closing the orphan-delta hazard.
    Returns the new generation id, or -1 if there was nothing to fold."""
    committed = _committed(state_dir)
    if not committed:
        return -1
    gen_id = committed[-1]
    for comp in _SCHEMAS:
        folded_thru, paths, missing = _component_state(
            state_dir, comp, set(committed)
        )
        if missing:
            # this component does NOT cover every committed batch (its
            # check family was added mid-stream). Folding it would stamp
            # the base with gen_id and LAUNDER the gap past the drain's
            # coverage guard — leave its deltas untouched so
            # _require_component_coverage still fails closed.
            continue
        if not paths or folded_thru == gen_id:
            continue
        # schema pinned for the same reason as _read_component: an all-
        # empty delta dir has no part files to infer from
        df = spark.read.schema(_SCHEMAS[comp]).parquet(*paths)
        if comp in _ADDITIVE:
            keys, aggs = _ADDITIVE[comp]
            df = df.groupBy(*keys).agg(
                *[getattr(F, fn)(c).alias(c) for c, fn in aggs.items()]
            )
        elif comp == "ksketch":
            # sketch state folds via the KLL merge, not a scalar agg
            from pyanomalydetector2_spark.operators.kll import kll_merge_rows

            df = kll_merge_rows(df, ["column", "bucket"])
        out = f"{state_dir}/{comp}_base/gen={gen_id}"
        df.write.mode("overwrite").parquet(out)
        # parquet write emits _SUCCESS; latest_gen only trusts dirs that
        # have it, so an interrupted fold is invisible
    return gen_id


def vacuum_suite_state(state_dir: str) -> list[str]:
    """Delete delta dirs already folded into each component's newest
    complete generation. Safe any time: readers resolve base + deltas
    strictly AFTER the base's id."""
    import shutil

    removed = []
    for comp in _SCHEMAS:
        base = latest_gen(f"{state_dir}/{comp}_base")
        if base is None:
            continue
        for n, d in batch_dirs(f"{state_dir}/{comp}"):
            if n <= base[0]:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d)
    return removed
