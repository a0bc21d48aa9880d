"""Constraint-suite runner: one distributed pass per check family, verdicts +
violation rows out, checkpoint/resume at partition-bucket granularity.

Execution shape (the scale story):
- ALL row checks and referential checks ride ONE scan: each predicate
  compiles to a struct-in-array element, failures explode into violation
  rows. A referential check is a membership predicate over its dim column,
  collected once per call (dims are tiny by contract). The decoded-PCM
  invariant columns are attached by a single Arrow-batched UDF pass;
  ``bytes`` is never read by any other family (column pruning).
- Every per-bucket summary — row counts, the moment partial, drift bin
  counts per (check, bucket), category counts per (column, bucket) and
  the bucket-key HLL screen — comes from ONE plan that the driver
  collects once (``suite_summary``; ``split_summary`` shapes its rows).
  The baseline's bins and categories come from the same builder, without
  grouping, in one more job.
- Uniqueness, FD and reconcile checks run directly against the source
  table with COLUMN-PRUNED scans (no cache): measured on this hardware, a
  pruned parquet re-scan is ~10× cheaper than building + reading a
  deserialized in-memory cache of all columns, and at 100 TB the same
  holds more strongly — each family's scan reads only its own few columns.
- Both engines share the builders: ``suite_summary`` and
  ``suite_state_frames`` (violations and percentile KLL sketches). The
  streaming suite writes that state per micro-batch; this runner collects
  the summary, the row-scale violation counts, the sketches and the
  baseline side (``baseline_collects``), each in its own thread as
  concurrent Spark jobs (``functions.collect_concurrently``, which keeps
  the caller's job group), with no job ahead of them on a fresh run — the
  same driver-side funnel the reference uses for survivor sets
  (detect_anomalies.py:79-96). ``suite_verdict_rows`` merges that small
  state and scores it into verdict rows for both engines, so the verdict
  and drift arithmetic has one definition. All heavy lifting stays
  distributed; the verdicts come back as one driver-local frame.

Violation rows mirror the reference's anomalies upsert contract
(models/anomalies.py:9,59-79 → FIXTURES.md §B3).
"""

from __future__ import annotations

import math
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyanomalydetector2_spark.constraints.dsl import Suite, parse_percentile_stat
from pyanomalydetector2_spark.operators.audio import with_audio_invariants
from pyanomalydetector2_spark.operators.drift import (
    HistSpec,
    _finite,
    _validated_edges,
    categorical_scores,
    edges_bin_expr,
    psi_ks,
    width_bin,
)
from pyanomalydetector2_spark.operators.integrity import (
    fd_det_repr,
    fd_observed,
    fd_violations,
    referential_predicate,
)
from pyanomalydetector2_spark.operators.reconcile import snapshot_diff
from pyanomalydetector2_spark.operators.stats import (
    PARTIAL_FIELDS,
    profile_from_partial_rows,
    profile_partial_aggs,
)
from pyanomalydetector2_spark.operators.uniqueness import duplicate_rows
from pyanomalydetector2_spark.streaming.checkpoint import CheckpointLedger
from pyanomalydetector2_spark.functions import (
    collect_concurrently,
    conform,
    empty_frame,
    local_rows_df,
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("clip_id", T.StringType()),
        T.StructField("constraint_id", T.StringType()),
        T.StructField("observed", T.StringType()),
        T.StructField("expected", T.StringType()),
    ]
)

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("constraint_id", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("observed", T.DoubleType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("passed", T.BooleanType()),
        T.StructField("violation_cnt", T.LongType()),
    ]
)

# the declared schema of each per-batch state component of both engines:
# ``suite_state_frames`` builds the violations and sketches,
# ``split_summary`` shapes the rest (drift bins are keyed by check id,
# category counts by column)
STATE_SCHEMAS = {
    "violations": VIOLATION_SCHEMA,
    "profile": (
        "bucket int, column string, row_cnt long, cnt long, null_cnt long, "
        "min double, max double, sum double, sqr_sum double"
    ),
    "ksketch": (
        "column string, bucket int, kll_k int, kll_n long, "
        "kll_levels array<array<double>>, kll_compactions array<int>"
    ),
    "hist": "cid string, g int, b int, n long",
    "ehist": "cid string, g int, b int, n long",
    "cats": "column string, bucket int, cat string, cur_cat_n long",
}


@dataclass
class SuiteResult:
    run_id: str
    verdicts: DataFrame
    violations: DataFrame
    processed_buckets: list[int]
    skipped_buckets: list[int]
    row_count: int
    wall_sec: float
    # frames persisted on behalf of this result (the violations cache) — a
    # long-lived session running many suites should release them once the
    # result is materialized, or executor storage memory accrues cached
    # frames per run
    cached: tuple = ()
    # rows validated per processed bucket (the ledger's per-bucket lineage)
    bucket_rows: dict = field(default_factory=dict)

    def passed(self) -> bool:
        return self.verdicts.filter(~F.col("passed")).isEmpty()

    def unpersist(self) -> None:
        """Release the caches backing this result (safe after the caller
        has collected/persisted the violations; an uncached frame stays
        valid and simply recomputes if re-materialized)."""
        for df in self.cached:
            df.unpersist()


def _row_check_violations(
    base: DataFrame, checks: list[tuple], run_id: str, key_col: str,
    bucket_col: str,
) -> DataFrame:
    """Violation rows of ``checks``, (constraint id, predicate, observed,
    expected text) each, from one scan of ``base``: every predicate is one
    element of a struct array, and the failures explode into rows."""
    elems = []
    for cid, predicate, observed, expected in checks:
        fails = ~F.coalesce(predicate, F.lit(False))  # NULL pred → fail
        elems.append(
            F.when(
                fails,
                F.struct(
                    F.lit(cid).alias("constraint_id"),
                    F.coalesce(observed.cast("string"), F.lit("NULL")).alias(
                        "observed"
                    ),
                    F.lit(expected).alias("expected"),
                ),
            )
        )
    return (
        base.select(
            F.col(bucket_col).alias("bucket"),
            F.col(key_col).alias("clip_id"),
            F.array_compact(F.array(*elems)).alias("_fails"),
        )
        .filter(F.size("_fails") > 0)
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("bucket").cast("int"),
            "clip_id",
            F.explode("_fails").alias("_f"),
        )
        .select(
            "run_id",
            "bucket",
            "clip_id",
            F.col("_f.constraint_id").alias("constraint_id"),
            F.col("_f.observed").alias("observed"),
            F.col("_f.expected").alias("expected"),
        )
    )


def row_check_base(current: DataFrame, suite: Suite) -> DataFrame:
    """The row-check projection: the source frame plus whatever invariant
    columns the suite's row checks require. Row checks get the
    audio-invariant / container-meta columns; every OTHER family reads the
    source directly so its scan prunes down to its own columns. Container
    meta attaches FIRST (it reads bytes); the audio-invariant projection
    then drops bytes. Shared by the one-shot runner and the streaming
    per-batch path so both evaluate predicates over identical columns."""
    needs_audio = any(c.requires_audio for c in suite.row_checks)
    needs_container = any(
        getattr(c, "requires_container", False) for c in suite.row_checks
    )
    audio_base = current
    if needs_container:
        from pyanomalydetector2_spark.operators.multimodal import (
            with_container_meta,
        )

        audio_base = with_container_meta(audio_base)
    if needs_audio:
        from pyanomalydetector2_spark.constraints.dsl import TOKEN_COUNT_SQL

        # transcript_tokens computed ONCE as a column the cross-modal
        # predicates reference by name — single definition shared by the
        # DSL and the YAML mirror; perf-neutral vs inlining (codegen
        # subexpression elimination, A/B in BASELINE.md §13)
        audio_base = with_audio_invariants(audio_base).withColumn(
            "transcript_tokens", F.expr(TOKEN_COUNT_SQL)
        )
    elif needs_container and not any(
        "bytes" in c.predicate or "bytes" in c.observed
        for c in suite.row_checks
    ):
        # prune bytes out of the row-check projection — but never out from
        # under a row check whose own expression references it
        audio_base = audio_base.drop("bytes")
    return audio_base


def suite_components(suite: Suite) -> dict[str, list]:
    """The state components a suite needs, each with the state-shaping
    definitions its rows are built from. ``suite_summary`` and
    ``suite_state_frames`` build the shared components, the streaming
    suite adds ``ids``, ``fdpairs`` and ``recon``, pins this map in its
    manifest and reads exactly these components. Thresholds are finalizer
    arithmetic, not state, so they are not part of it. Distributed drift
    keeps no state: it is scored in Spark by the batch runner."""
    def columns(checks) -> list[str]:
        return sorted({c.column for c in checks})

    numeric = [
        c for c in suite.drift_checks if not c.categorical and not c.distributed
    ]
    comps = {
        "violations": sorted(
            [["row", c.constraint_id, c.predicate, c.observed, c.expected]
             for c in suite.row_checks]
            + [["ref", c.constraint_id, c.column, c.dim_name]
               for c in suite.ref_checks]
        ),
        "profile": columns(
            c for c in suite.stat_checks if parse_percentile_stat(c.stat) is None
        ),
        "ksketch": columns(
            c for c in suite.stat_checks
            if parse_percentile_stat(c.stat) is not None
        ),
        "hist": sorted(
            [c.constraint_id, c.column, float(c.lo), float(c.hi), int(c.nbins)]
            for c in numeric if not c.equi_depth
        ),
        "ehist": sorted([c.constraint_id, c.column] for c in numeric if c.equi_depth),
        "cats": columns(c for c in suite.drift_checks if c.categorical),
        "ids": columns(suite.unique_checks),
        "fdpairs": sorted(
            [c.constraint_id, list(c.determinant), c.dependent]
            for c in suite.fd_checks
        ),
        "recon": sorted(
            [c.constraint_id, list(c.compare_cols)] for c in suite.reconcile_checks
        ),
    }
    return {k: v for k, v in comps.items() if v}


def suite_state_frames(
    df: DataFrame,
    suite: Suite,
    dims: dict[str, DataFrame],
    run_id: str,
    key_col: str,
    bucket_col: str,
) -> dict:
    """The suite's row-scale and sketch state over ``df`` as {component:
    build}, where ``build()`` returns the component's frame conformed to
    its ``STATE_SCHEMAS`` entry: ``violations`` of the row and referential
    checks from one scan (a referential check is a membership predicate
    over its dim column, collected once per call) and percentile
    ``ksketch`` rows. The per-bucket counts, moments, bins and categories
    come from ``suite_summary``. The streaming suite writes these frames
    per micro-batch and the batch runner collects them; each engine calls
    the builders inside its concurrent fan-out, because building a plan is
    0.1–0.2 s of driver-side analysis per component."""
    comps = suite_components(suite)

    def violations() -> DataFrame:
        checks = [
            (c.constraint_id, F.expr(c.predicate), F.expr(c.observed), c.expected)
            for c in suite.row_checks
        ]
        members: dict[tuple, object] = {}
        for c in suite.ref_checks:
            key = (c.dim_name, c.column)
            if key not in members:
                members[key] = referential_predicate(c.column, dims[c.dim_name])
            checks.append((
                c.constraint_id, members[key], F.col(c.column),
                f"{c.column} in {c.dim_name}",
            ))
        return _row_check_violations(
            row_check_base(df, suite), checks, run_id, key_col, bucket_col
        )

    def ksketch() -> DataFrame:
        return percentile_sketches(df, comps["ksketch"], bucket_col)

    builders = {"violations": violations, "ksketch": ksketch}
    return {
        comp: lambda comp=comp, build=build: conform(build(), STATE_SCHEMAS[comp])
        for comp, build in builders.items()
        if comp in comps
    }


def _summary_element(cond, comp: str, key: str, b=None, cat=None):
    """One element of the summary's bin and category explode, where
    ``cond`` holds: a drift bin of a check (``hist``/``ehist``, keyed by
    check id) or a category of a column (``cats``)."""
    return F.when(cond, F.struct(
        F.lit(comp).alias("comp"),
        F.lit(key).alias("key"),
        (F.lit(None) if b is None else b).cast("int").alias("b"),
        (F.lit(None) if cat is None else cat).cast("string").alias("cat"),
    ))


def suite_summary(
    df: DataFrame,
    suite: Suite,
    group_col: str | None,
    equi_edges,
    hll_columns: list[str] = (),
) -> DataFrame:
    """Every per-group summary of ``df`` that the suite's verdicts read, as
    ONE plan for the driver to collect once (``split_summary`` shapes the
    rows). With a ``group_col``, one grouped aggregate yields each group's
    row count, the moment partial of every ``profile`` column and the HLL
    estimate over the string cast of each ``hll_columns`` column. In the
    same plan, one explode + aggregate yields the drift bin counts per
    (check id, group) — ``hist`` for the uniform checks, ``ehist`` over
    each equi-depth check's edges (``equi_edges()``; without it ``ehist``
    is left out) — and the category counts per (column, group). Without a
    group column (the baseline side) only bins and categories are counted.
    Counts are integers, so partial summaries add up exactly."""
    comps = suite_components(suite)
    g = (F.col(group_col) if group_col else F.lit(None)).cast("int").alias("g")
    elems = []
    for cid, col, lo, hi, nb in comps.get("hist", []):
        b = width_bin(HistSpec(col, lo, hi, nb))
        elems.append(_summary_element(b.isNotNull(), "hist", cid, b=b))
    if "ehist" in comps and equi_edges is not None:
        edges = equi_edges()
        elems += [
            _summary_element(
                _finite(col), "ehist", cid, b=edges_bin_expr(col, edges[cid])
            )
            for cid, col in comps["ehist"]
        ]
    elems += [
        _summary_element(F.col(col).isNotNull(), "cats", col, cat=F.col(col))
        for col in comps.get("cats", [])
    ]
    parts = []
    if group_col:
        parts.append(df.groupBy(g).agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.approx_count_distinct(F.col(c).cast("string"), 0.02).alias(
                    f"{c}__hll"
                )
                for c in hll_columns
            ],
            *profile_partial_aggs(comps.get("profile", [])),
        ))
    if elems:
        parts.append(
            df.select(g, F.explode(F.array_compact(F.array(*elems))).alias("e"))
            .groupBy("g", "e")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def split_summary(rows, suite: Suite, hll_columns: list[str] = ()) -> dict:
    """Collected ``suite_summary`` rows as {component: rows}: ``profile``,
    ``hist``, ``ehist`` and ``cats`` in their ``STATE_SCHEMAS`` row shapes,
    ``buckets`` rows (bucket, n), and ``hll`` as column → the sum of its
    per-group estimates."""
    profile_cols = suite_components(suite).get("profile", [])
    out: dict = {
        "buckets": [], "hll": {}, "profile": [], "hist": [], "ehist": [],
        "cats": [],
    }
    for r in rows:
        r = r.asDict()
        e, g, n = r.get("e"), r["g"], r["n"]
        if e is None:
            out["buckets"].append({"bucket": g, "n": n})
            for c in hll_columns:
                out["hll"][c] = out["hll"].get(c, 0) + r[f"{c}__hll"]
            out["profile"] += [
                {"bucket": g, "column": c,
                 **{f: r[f"{c}__{f}"] for f in PARTIAL_FIELDS}}
                for c in profile_cols
            ]
        elif e["comp"] == "cats":
            out["cats"].append(
                {"column": e["key"], "bucket": g, "cat": e["cat"], "cur_cat_n": n}
            )
        else:
            out[e["comp"]].append({"cid": e["key"], "g": g, "b": e["b"], "n": n})
    return out


def baseline_collects(
    baseline: DataFrame, suite: Suite, bucket_col: str, equi_edges
) -> dict:
    """The baseline side of a suite run as {key: callable}, for either
    engine's concurrent fan-out; ``suite_verdict_rows`` reads the results.
    Each callable returns part of the baseline map: ``buckets`` (bucket →
    rows, the reconcile rate denominators) from one job, and from one
    ungrouped ``suite_summary`` job ``bins`` (check id → global bin
    counts, uniform and equi-depth) and ``cats`` (column → {category:
    count}). ``equi_edges`` is called for the check id → edges map, so the
    batch runner resolves edges inside its fan-out."""
    comps = suite_components(suite)
    out: dict = {}
    if "recon" in comps:
        out[("baseline", "buckets")] = lambda: {"buckets": {
            r["bucket"]: r["count"]
            for r in baseline.groupBy(
                F.col(bucket_col).cast("int").alias("bucket")
            ).count().collect()
        }}
    if {"hist", "ehist", "cats"} & set(comps):
        def _summary() -> dict:
            edges = equi_edges() if "ehist" in comps else {}
            bins = {
                **{cid: np.zeros(nb + 2, np.int64)
                   for cid, _, _, _, nb in comps.get("hist", [])},
                **{cid: np.zeros(len(edges[cid]) + 1, np.int64)
                   for cid, _ in comps.get("ehist", [])},
            }
            cats: dict = {col: {} for col in comps.get("cats", [])}
            part = split_summary(
                suite_summary(baseline, suite, None, equi_edges).collect(), suite
            )
            for r in part["hist"] + part["ehist"]:
                bins[r["cid"]][r["b"]] = r["n"]
            for r in part["cats"]:
                cats[r["column"]][r["cat"]] = r["cur_cat_n"]
            return {"bins": bins, "cats": cats}

        out[("baseline", "summary")] = _summary
    return out


def sketch_store_edges(spark, sketch_store, checks) -> dict[str, list[float]]:
    """Check id → equi-depth bin edges read off the persisted KLL store's
    global sketch of the check's column (``[]`` when the store holds no
    state for it)."""
    from pyanomalydetector2_spark.operators.drift import (
        quantile_edges_from_sketch,
    )
    from pyanomalydetector2_spark.operators.kll import SKETCH_FIELDS

    state = sketch_store.read(spark)
    return {
        c.constraint_id: quantile_edges_from_sketch(
            state.filter(F.col("column") == c.column).select(*SKETCH_FIELDS),
            c.nbins,
        )
        for c in checks
    }


_CMP_OPS = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "==": lambda a, b: a == b,
}


# the moment stats ``stats.profile_from_partial_rows`` finalizes from the
# mergeable partial; a StatCheck names one of these or a percentile "pXX"
_MERGEABLE_STATS = {
    "row_cnt", "cnt", "null_cnt", "null_rate", "min", "max", "sum",
    "sqr_sum", "mean", "std",
}


def ensure_known_stats(suite: Suite) -> None:
    """Reject a StatCheck whose stat neither engine computes: both finalize
    moment stats from the same mergeable partial, so the sketch-backed
    profile outputs (``approx_distinct``, ``quantiles``) and misspelled
    stats raise here instead of reading as a NaN verdict."""
    for c in suite.stat_checks:
        if c.stat not in _MERGEABLE_STATS and parse_percentile_stat(c.stat) is None:
            raise ValueError(
                f"stat check {c.constraint_id!r} uses stat {c.stat!r}, which "
                f"is neither a moment stat ({', '.join(sorted(_MERGEABLE_STATS))}) "
                "nor a percentile 'p<NN>': sketch-backed profile outputs "
                "(approx_distinct, quantiles) do not merge from per-batch "
                "scalars, while percentiles do, through per-batch KLL "
                "sketch partials"
            )


def stat_verdict_rows(prof: dict, stat_checks, run_id: str) -> list[tuple]:
    """Per-check verdict rows over a finalized profile held as
    {(bucket, column): {stat: value}}: one row per key of the check's
    column. A NULL stat (the column is all-null in the bucket) reads as
    observed NaN, and NaN fails every op."""
    out = []
    for c in stat_checks:
        for (b, col), stats in prof.items():
            if col != c.column:
                continue
            v = stats.get(c.stat)
            v = math.nan if v is None else float(v)
            out.append(
                (run_id, b, c.constraint_id, f"{c.column}.{c.stat}", v,
                 float(c.threshold),
                 not math.isnan(v) and bool(_CMP_OPS[c.op](v, c.threshold)),
                 0)
            )
    return out


def percentile_sketches(
    df: DataFrame, columns: list[str], bucket_col: str
) -> DataFrame:
    """Per-(column, bucket) KLL sketch rows for percentile StatChecks — ALL
    columns in ONE column-pruned Arrow pass (the transfer is the build's
    dominant cost, BASELINE.md §24; every partition reduces to KBs of sketch
    before the single tiny shuffle). The SAME frame shape the streaming
    suite persists per micro-batch ("ksketch" component), so batch and
    stream share one definition of pXX."""
    from pyanomalydetector2_spark.operators.kll import (
        STAT_SKETCH_K,
        kll_build_multi,
    )

    return kll_build_multi(df, columns, [bucket_col], k=STAT_SKETCH_K).select(
        "column",
        F.col(bucket_col).cast("int").alias("bucket"),
        "kll_k", "kll_n", "kll_levels", "kll_compactions",
    )


def _percentile_profile(sketch_rows, pct_checks, buckets) -> dict:
    """{(bucket, column): {pXX: value}} for every bucket × percentile
    column. Each pair's sketch rows merge in the order given, and the
    nearest-rank quantiles are read off the merged sketch. A pair with no
    sketch row (its column is all-null/NaN in the bucket) has no value, so
    its verdict reads NaN and fails, like an all-null moment stat."""
    from pyanomalydetector2_spark.operators.kll import _Sketch

    stats = sorted({c.stat for c in pct_checks})
    qs = [parse_percentile_stat(st) for st in stats]
    merged: dict = {}
    for r in sketch_rows:
        merged.setdefault(
            (r["bucket"], r["column"]), _Sketch(int(r["kll_k"]))
        ).merge(
            _Sketch.from_row(
                r["kll_k"], r["kll_n"], r["kll_levels"], r["kll_compactions"]
            )
        )
    prof: dict = {
        (b, col): {} for b in buckets for col in {c.column for c in pct_checks}
    }
    for key, sk in merged.items():
        prof[key] = dict(zip(stats, sk.quantiles(qs)))
    return prof


def drift_verdict_rows(run_id: str, bucket, c, psi: float, ks: float) -> list[tuple]:
    """The psi and ks verdict rows of one scored bucket: each passes when
    its score is within the check's bound (categorical drift reports linf
    in the ks slot)."""
    return [
        (run_id, bucket, c.constraint_id, "psi", psi, c.psi_max,
         psi <= c.psi_max, 0),
        (run_id, bucket, c.constraint_id, "ks", ks, c.ks_max,
         ks <= c.ks_max, 0),
    ]


def violation_count_verdict_rows(
    counts: dict, buckets, counted_ids: list[str], run_id: str
) -> list[tuple]:
    """Violation-count verdicts over collected {(bucket, constraint_id):
    count}: every (bucket × constraint) cell, zero-violation cells
    passing."""
    out = []
    for b in buckets:
        for cid in counted_ids:
            n = counts.get((b, cid), 0)
            out.append(
                (run_id, b, cid, "violation_cnt", float(n), 0.0, n == 0, n)
            )
    return out


def reconcile_violation_frame(
    diff: DataFrame, c, run_id: str, key_col: str, bucket_col: str
) -> DataFrame:
    """Shape one ReconcileCheck's ``snapshot_diff`` output into
    VIOLATION_SCHEMA rows. ``max_added_rate=None`` drops added rows —
    appends are normal growth, not violations. Shared by the one-shot
    runner and the streaming assembler so both emit identical reconcile
    violations."""
    if c.max_added_rate is None:
        diff = diff.filter(F.col("change") != "added")
    return diff.select(
        F.lit(run_id).alias("run_id"),
        F.col(bucket_col).cast("int").alias("bucket"),
        F.col(key_col).cast("string").alias("clip_id"),
        F.lit(c.constraint_id).alias("constraint_id"),
        F.concat(
            F.col("change"),
            F.when(
                F.col("changed_cols") != "",
                F.concat(F.lit(":"), F.col("changed_cols")),
            ).otherwise(F.lit("")),
        ).alias("observed"),
        F.lit("unchanged vs baseline snapshot").alias("expected"),
    )


def reconcile_rate_verdict_rows(
    kind_counts: dict,
    buckets,
    base_counts: dict,
    checks,
    run_id: str,
) -> list[tuple]:
    """Per-bucket removed/changed/(bounded added) RATE verdicts for every
    ReconcileCheck: ``kind_counts`` maps (constraint_id, bucket, change
    kind) → violation rows, ``base_counts`` bucket → baseline rows. The
    grid is the current buckets plus the baseline's, so a bucket removed
    from current still gets its rows. A bucket with no baseline rows reads
    rate inf when it has violations of the kind and 0 otherwise; a NULL
    bucket counts nothing."""
    out = []
    for c in checks:
        bounded = [("removed_rate", "removed", c.max_removed_rate),
                   ("changed_rate", "changed", c.max_changed_rate)]
        if c.max_added_rate is not None:
            bounded.append(("added_rate", "added", c.max_added_rate))
        for b in set(buckets) | set(base_counts):
            known = b is not None
            base_n = base_counts.get(b, 0) if known else 0
            for metric, kind, bound in bounded:
                n = kind_counts.get((c.constraint_id, b, kind), 0) if known else 0
                rate = n / base_n if base_n else (math.inf if n > 0 else 0.0)
                out.append(
                    (run_id, b, c.constraint_id, metric, rate, float(bound),
                     rate <= float(bound), n)
                )
    return out


def violation_counts_frame(violations: DataFrame, suite: Suite) -> DataFrame:
    """Violation rows counted per (bucket, constraint), reconcile rows also
    per change kind (``kind`` is NULL for every other family): the one
    aggregate ``suite_verdict_rows`` reads of the violations."""
    recon_ids = [c.constraint_id for c in suite.reconcile_checks]
    kind = F.when(
        F.col("constraint_id").isin(recon_ids),
        F.split(F.col("observed"), ":").getItem(0),
    )
    return violations.groupBy(
        "bucket", "constraint_id", kind.alias("kind")
    ).count()


def suite_verdict_rows(
    suite: Suite,
    run_id: str,
    buckets,
    row_count: int,
    hll: dict,
    violation_counts,
    state: dict,
    baseline: dict,
    distributed_scores: list[tuple],
) -> list[tuple]:
    """Every verdict row of a suite run, finalized on the driver from
    small collected state. Both engines call it, so the verdict and drift
    arithmetic has one definition:

    - ``hll``: column → HLL distinct estimate (one informational row per
      UniqueCheck, bucket -1);
    - ``violation_counts``: ``violation_counts_frame`` rows;
    - ``state``: component → rows of the ``profile``, ``ksketch``,
      ``hist``, ``ehist`` and ``cats`` components (``STATE_SCHEMAS``
      shapes), any number of partial rows per key: they merge here, moment
      partials and count rows by addition, sketch rows in the order given;
    - ``baseline``: the results of ``baseline_collects``' callables;
    - ``distributed_scores``: (check, bucket, psi, ks) of the
      ``DriftCheck(distributed=True)`` checks, scored in Spark.

    Uniform, equi-depth and categorical drift are scored here from the
    current and baseline counts; an empty baseline or a check with no
    current count raises instead of passing vacuously."""
    vcounts: dict[tuple, int] = {}
    kind_counts: dict[tuple, int] = {}
    for r in violation_counts:
        key = (r["bucket"], r["constraint_id"])
        vcounts[key] = vcounts.get(key, 0) + r["count"]
        if r["kind"] is not None:
            kind_counts[(r["constraint_id"], r["bucket"], r["kind"])] = r["count"]
    base: dict[str, dict] = {"buckets": {}, "bins": {}, "cats": {}}
    for part in baseline.values():
        base.update(part)
    rows: list[tuple] = [
        (run_id, -1, c.constraint_id, "hll_approx_distinct",
         float(hll.get(c.column, 0)), float(row_count), True, 0)
        for c in suite.unique_checks
    ]
    counted_ids = [
        c.constraint_id
        for checks in (
            suite.row_checks, suite.unique_checks, suite.ref_checks,
            suite.fd_checks,
        )
        for c in checks
    ]
    rows += violation_count_verdict_rows(vcounts, buckets, counted_ids, run_id)
    rows += reconcile_rate_verdict_rows(
        kind_counts, buckets, base["buckets"], suite.reconcile_checks, run_id
    )
    rows += stat_verdict_rows(
        profile_from_partial_rows(state.get("profile", ())),
        [c for c in suite.stat_checks if parse_percentile_stat(c.stat) is None],
        run_id,
    )
    pct_checks = [
        c for c in suite.stat_checks if parse_percentile_stat(c.stat) is not None
    ]
    if pct_checks:
        rows += stat_verdict_rows(
            _percentile_profile(state.get("ksketch", ()), pct_checks, buckets),
            pct_checks,
            run_id,
        )

    scored = list(distributed_scores)
    cur_bins: dict[str, list] = {}
    for r in (*state.get("hist", ()), *state.get("ehist", ())):
        cur_bins.setdefault(r["cid"], []).append(r)
    cur_cats: dict[str, dict] = {}
    for r in state.get("cats", ()):
        counts = cur_cats.setdefault(r["column"], {}).setdefault(r["bucket"], {})
        counts[r["cat"]] = counts.get(r["cat"], 0) + r["cur_cat_n"]
    for c in suite.drift_checks:
        if c.categorical:
            scores = categorical_scores(
                cur_cats.get(c.column, {}), base["cats"][c.column], c.column
            )
        elif c.distributed:
            continue
        else:
            base_bins = base["bins"][c.constraint_id]
            if not base_bins.sum():
                raise ValueError(
                    f"drift baseline for column {c.column!r} is empty or "
                    "all-null — no histogram to compare against (fix the "
                    "baseline snapshot)"
                )
            groups: dict = {}
            for r in cur_bins.get(c.constraint_id, ()):
                groups.setdefault(
                    r["g"], np.zeros(len(base_bins), np.int64)
                )[r["b"]] += r["n"]
            scores = {g: psi_ks(arr, base_bins) for g, arr in groups.items()}
        if not scores:
            raise ValueError(
                f"drift check {c.constraint_id!r} produced no score — "
                f"column {c.column!r} is empty/all-null in every current "
                "bucket (fix the snapshot or drop the check)"
            )
        scored += [(c, int(g), *scores[g]) for g in sorted(scores)]
    for c, g, psi, ks in scored:
        rows += drift_verdict_rows(run_id, g, c, psi, ks)
    return rows


def _violation_frame(
    state_violations: DataFrame | None,
    current: DataFrame,
    baseline: DataFrame,
    suite: Suite,
    run_id: str,
    key_col: str,
    bucket_col: str,
    salt_buckets: int | None,
) -> DataFrame:
    """Every violation row of a batch run (VIOLATION_SCHEMA) as one lazy
    plan: the row and referential rows of the suite state plus the
    row-scale families; ``baseline`` is the reconcile side,
    bucket-filtered like ``current`` on a resume."""
    violation_frames = [] if state_violations is None else [state_violations]

    # ---- uniqueness: HLL screen (recorded metric) + exact confirm ---------
    # The HLL estimate is recorded per run (the cheap observability signal,
    # and at 10^12 rows the early-exit for grossly-duplicated inputs), but
    # pass/fail truth always comes from the exact pass: HLL's relative error
    # (~2%) cannot certify uniqueness at realistic dup rates.
    for c in suite.unique_checks:
        # salt_buckets (opt-in, north_rule skew handling): the uniqueness
        # groupBy is the suite's one aggregation whose reduce key is the
        # DATA key — a degenerate hot clip_id pins one reducer there. The
        # other families are immune by construction: profile/drift group on
        # the bucket column with algebraic aggs, so map-side combine
        # collapses any hot key before the exchange.
        dup_rows = duplicate_rows(
            current, c.column, [bucket_col], salt_buckets
        ).select(
            F.lit(run_id).alias("run_id"),
            F.col(bucket_col).cast("int").alias("bucket"),
            F.col(c.column).cast("string").alias("clip_id"),
            F.lit(c.constraint_id).alias("constraint_id"),
            F.concat(F.lit("dup_cnt="), F.col("dup_cnt")).alias("observed"),
            F.lit(f"unique {c.column}").alias("expected"),
        )
        violation_frames.append(dup_rows)

    # ---- functional dependencies: algebraic two-stage agg ------------------
    # Resume semantics match uniqueness: on a bucket-filtered resume the FD
    # is evaluated over the remaining buckets' rows only (determinant-global
    # conflicts already caught in committed buckets were reported then).
    for c in suite.fd_checks:
        det = list(c.determinant)
        grp = fd_violations(
            current, det, c.dependent, carry_min=[key_col, bucket_col]
        )
        viol = grp.select(
            F.lit(run_id).alias("run_id"),
            F.col(bucket_col).cast("int").alias("bucket"),
            F.col(key_col).cast("string").alias("clip_id"),
            F.lit(c.constraint_id).alias("constraint_id"),
            fd_observed(
                fd_det_repr(det),
                F.col("n_values"),
                F.col("n_rows"),
                F.col("dep_min"),
                F.col("dep_max"),
            ).alias("observed"),
            F.lit(
                f"{c.dependent} functionally determined by ({', '.join(det)})"
            ).alias("expected"),
        )
        violation_frames.append(viol)

    # ---- reconcile vs baseline: removed/changed (and bounded added) rows --
    # Both sides bucket-filtered on resume: bucket = hash(key) is identical
    # across snapshots, so per-bucket resume composes with the diff — a
    # committed bucket's reconcile rows were persisted by the run that
    # committed it.
    for c in suite.reconcile_checks:
        diff = snapshot_diff(
            baseline,
            current,
            [key_col],
            list(c.compare_cols),
            carry_cols=[bucket_col],
        )
        violation_frames.append(
            reconcile_violation_frame(diff, c, run_id, key_col, bucket_col)
        )

    if not violation_frames:
        return empty_frame(current.sparkSession, VIOLATION_SCHEMA)
    violations = violation_frames[0]
    for vf in violation_frames[1:]:
        violations = violations.unionByName(vf)
    return violations


def run_suite(
    current: DataFrame,
    baseline: DataFrame,
    dims: dict[str, DataFrame],
    suite: Suite,
    run_id: str,
    key_col: str = "clip_id",
    bucket_col: str = "bucket",
    checkpoint: CheckpointLedger | None = None,
    salt_buckets: int | None = None,
    commit: bool = True,
    sketch_store=None,
) -> SuiteResult:
    """Run the full suite over ``current`` (minus already-committed buckets
    when resuming), emit verdicts + violations, commit the ledger.

    ``commit=False`` defers the ledger commit: callers that persist the
    result frames afterwards (run_suite.py) must call
    ``commit_checkpoint(result, checkpoint)`` AFTER the persist succeeds —
    otherwise a crash between validation and persistence marks buckets
    committed whose violations were never written, and --resume silently
    skips them forever.

    ``sketch_store`` (optional catalog table, SnapshotTable/IcebergTable
    shape): persisted per-column global KLL sketches backing the equi-depth
    drift checks' bin edges. First run bootstraps (one baseline pass per
    equi-depth column, merge-upserted under the ``column`` key); later runs
    read KBs of sketch state instead of rescanning the baseline, and
    ``kll_merge`` can fold new baseline snapshots forward out-of-band."""
    ensure_known_stats(suite)
    t0 = time.time()
    spark = current.sparkSession

    skipped: list[int] = []
    if checkpoint is not None:
        skipped = checkpoint.committed_buckets(run_id)

    def empty_result() -> SuiteResult:
        return SuiteResult(
            run_id,
            empty_frame(spark, VERDICT_SCHEMA),
            empty_frame(spark, VIOLATION_SCHEMA),
            [], skipped, 0, 0.0,
        )

    if skipped:
        current = current.filter(~F.col(bucket_col).isin(skipped))
        # a resume counts its remaining buckets first, in one job, so a
        # no-op resume (everything committed already) returns before any
        # family plan is built; a fresh run reads its buckets off the
        # summary instead, with no job ahead of the fan-out
        if not current.groupBy(bucket_col).count().collect():
            return empty_result()

    # ---- every family reduces to a small aggregate — the per-bucket
    # summary (``suite_summary``: bucket rows, moments, bins, categories
    # and the bucket-key HLL in one plan), the violation and sketch state
    # (``suite_state_frames``), violation counts per (bucket, constraint),
    # the baseline side (``baseline_collects``) — and each is built and
    # collected in its own thread, as concurrent jobs: the wall is the
    # slowest collect, not the sum. Each collect returns O(buckets × bins)
    # rows. What blew the 8 GB driver heap at the 8M-row tier (GC overhead
    # limit) was a lazy union of every family's scan in ONE job; here every
    # family stays its own small job, and concurrent tasks share the
    # session's executor slots.
    baseline_rec = (
        baseline.filter(~F.col(bucket_col).isin(skipped)) if skipped else baseline
    )
    equi = [c for c in suite.drift_checks if c.equi_depth and not c.categorical]
    distributed = [
        c for c in suite.drift_checks if c.distributed and not c.categorical
    ]
    # The summary's per-bucket HLL estimates screen the bucket key: bucket
    # = hash(key) % B ⇒ key duplicates co-locate ⇒ global distinct = Σ
    # per-bucket distinct, for key_col ONLY. Any other column appears in
    # every bucket and the sum would overcount by up to ×n_buckets — those
    # checks get a global sketch in one extra tiny agg.
    # HLL runs over the STRING-CAST key (injective for atomic types, so the
    # distinct count is unchanged) — the streaming suite stores keys
    # string-cast in its ids state and recomputes this screen from them,
    # and feeding HLL++ the same hash inputs keeps the two engines'
    # estimates bit-identical at EVERY cardinality, not just inside the
    # sparse-exact regime.
    key_hll = sorted({c.column for c in suite.unique_checks} & {key_col})
    non_key = [
        i for i, c in enumerate(suite.unique_checks) if c.column != key_col
    ]

    edges_lock = threading.Lock()
    equi_edges: dict[str, list[float]] = {}

    def _equi_edges() -> dict[str, list[float]]:
        """Check id → equi-depth edges, resolved once per run by whichever
        fan-out thread asks first. With a ``sketch_store``, KBs of sketch
        state replace the baseline rescan, and a miss bootstraps every
        missing column in ONE kll_build_multi pass (the Arrow transfer
        dominates a sketch build, BASELINE.md §24), so every later run is
        a hit; without one, one percentile_approx pass over the baseline
        per check."""
        with edges_lock:
            if not equi_edges:
                stored: dict[str, list[float]] = {}
                if sketch_store is not None:
                    if sketch_store.current_snapshot() is not None:
                        stored = sketch_store_edges(spark, sketch_store, equi)
                    todo = [c for c in equi if not stored.get(c.constraint_id)]
                    if todo:
                        from pyanomalydetector2_spark.operators.kll import (
                            kll_build_multi,
                        )

                        sketch_store.merge_upsert(
                            kll_build_multi(
                                baseline, sorted({c.column for c in todo}), (),
                                k=4096,
                            ),
                            keys=["column"],
                        )
                        stored.update(sketch_store_edges(spark, sketch_store, todo))
                equi_edges.update({
                    c.constraint_id: _validated_edges(
                        baseline, c.column, c.nbins, 10000,
                        stored.get(c.constraint_id) or None,
                    )
                    for c in equi
                })
        return equi_edges

    def _distributed_scores(c) -> list[tuple]:
        """Scores of one distributed drift check: for high-cardinality
        bucket columns the histograms stay DataFrame-side, and only the
        per-bucket scores (O(buckets) rows) come back."""
        from pyanomalydetector2_spark.operators.drift import (
            drift_scores_df,
            drift_scores_quantile_df,
        )

        frame = (
            drift_scores_quantile_df(
                current, baseline, c.column, c.nbins, group_col=bucket_col,
                edges=_equi_edges()[c.constraint_id],
            )
            if c.equi_depth
            else drift_scores_df(
                current, baseline, c.column, c.lo, c.hi, c.nbins,
                group_col=bucket_col,
            )
        )
        return [
            (c, r["bucket"], r["psi"], r["ks"])
            for r in frame.select(
                F.col(bucket_col).cast("int").alias("bucket"), "psi", "ks"
            ).collect()
        ]

    builds = suite_state_frames(current, suite, dims, run_id, key_col, bucket_col)

    def _violations() -> tuple:
        # the collect of the counts also materializes the violations cache
        violations = _violation_frame(
            builds["violations"]() if "violations" in builds else None,
            current, baseline_rec, suite, run_id, key_col, bucket_col,
            salt_buckets,
        ).cache()
        return violations, violation_counts_frame(violations, suite).collect()

    entries = {
        "summary": lambda: suite_summary(
            current, suite, bucket_col, _equi_edges, key_hll
        ).collect(),
        "violations": _violations,
    }
    if non_key:
        entries["hll"] = lambda: current.agg(
            *[
                F.approx_count_distinct(
                    F.col(suite.unique_checks[i].column).cast("string"), 0.02
                ).alias(f"_g_{i}")
                for i in non_key
            ]
        ).first()
    if "ksketch" in builds:
        entries["ksketch"] = lambda: builds["ksketch"]().collect()
    for i, c in enumerate(distributed):
        entries[("distributed", i)] = lambda c=c: _distributed_scores(c)
    base_entries = baseline_collects(baseline, suite, bucket_col, _equi_edges)
    got = collect_concurrently(spark, {**entries, **base_entries})

    violations, violation_counts = got["violations"]
    summary = split_summary(got["summary"], suite, key_hll)
    bucket_rows = {int(r["bucket"]): int(r["n"]) for r in summary["buckets"]}
    buckets = sorted(bucket_rows)
    row_count = sum(bucket_rows.values())
    if not buckets:  # a fresh run over an empty current
        violations.unpersist()
        return empty_result()
    hll = {
        c.column: (
            summary["hll"][c.column]
            if c.column == key_col
            else got["hll"][f"_g_{i}"]
        )
        for i, c in enumerate(suite.unique_checks)
    }
    base_side = {k: got[k] for k in base_entries}
    if skipped and ("baseline", "buckets") in base_side:
        # a resume's reconcile rates cover the buckets its diff covers
        base_side[("baseline", "buckets")] = {"buckets": {
            b: n for b, n in base_side[("baseline", "buckets")]["buckets"].items()
            if b is not None and b not in skipped
        }}
    verdict_rows = suite_verdict_rows(
        suite, run_id, buckets, row_count, hll, violation_counts,
        {**summary, "ksketch": got.get("ksketch", ())},
        base_side,
        [s for i in range(len(distributed)) for s in got[("distributed", i)]],
    )

    result = SuiteResult(
        run_id,
        # driver-local rows: collecting them runs no Spark job
        local_rows_df(spark, verdict_rows, VERDICT_SCHEMA),
        violations,
        buckets,
        skipped,
        row_count,
        time.time() - t0,
        cached=(violations,),
        bucket_rows=bucket_rows,
    )
    if checkpoint is not None and commit:
        commit_checkpoint(result, checkpoint)
    return result


def commit_checkpoint(
    res: SuiteResult,
    checkpoint: CheckpointLedger,
    snapshot_id: int | None = None,
    verdicts_snapshot_id: int | None = None,
) -> None:
    """Mark the result's processed buckets committed in the ledger — call
    this AFTER the verdicts/violations have been durably persisted (the
    write-ahead ordering --resume correctness depends on). Each bucket's
    record carries its own row count, its failed-constraint count, and the
    ids of the results (``snapshot_id``) and verdicts snapshots it was
    persisted in. A result with no processed bucket commits nothing."""
    if not res.processed_buckets:
        return
    # the verdicts are driver-local rows, so reading the failed ones back
    # runs no Spark job (a groupBy count over them would run two)
    fails = Counter(
        r["bucket"]
        for r in res.verdicts.filter(~F.col("passed")).select("bucket").collect()
    )
    for b in res.processed_buckets:
        checkpoint.mark_committed(
            res.run_id,
            int(b),
            snapshot_id=snapshot_id,
            metrics={
                "rows": res.bucket_rows.get(b),
                "failed_constraints": fails[b],
                "verdicts_snapshot_id": verdicts_snapshot_id,
            },
        )
