"""Cross-snapshot reconciliation and metrics-repository anomaly detection.

Two validation capabilities a snapshot-versioned (Iceberg-shaped) warehouse
needs beyond per-run constraint checks:

1. ``snapshot_diff`` — row-level reconciliation between two table versions
   (baseline snapshot vs current): which keys were added, removed, or had a
   compared column change. The Spark shape is ONE full-outer sort-merge join
   on the key with null-safe per-column comparison — both sides shuffle on
   the key once, which is the information-theoretic minimum for a full
   reconcile (every key must meet its twin); with a bucketed/sorted-by-key
   Iceberg layout the exchange disappears entirely (storage-partitioned
   join). All comparisons are codegen'd JVM expressions; the fact columns
   are pruned to key + compared columns at the scan.

2. ``metrics_zscores`` / ``metrics_anomalies`` — the reference's per-item
   z-score screen (detector.py:196-215: flag when
   |latest − mean(history)| > lambda·std(history), with min-support and
   zero-variance guards) re-aimed at the validation suite's OWN metrics
   history: each suite run appends its verdict ``observed`` values to a
   metrics-repository table, and the next run flags metrics whose latest
   value is a statistical outlier against their own run history — catching
   slow regressions (creeping null-rate, drifting mean) that per-run
   absolute thresholds are too coarse to see. One shuffle on the metric
   key; history tables are O(runs × constraints), tiny next to the data.

3. ``schema_changes`` — structural diff of two schemas (columns added /
   removed / type or nullability changed). Schemas are KB-sized driver
   objects; this is pure Python by design, no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def snapshot_diff(
    baseline: DataFrame,
    current: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Rows that differ between two snapshots of the same table.

    Returns one row per differing key: the key columns, ``change`` in
    {'added', 'removed', 'changed'} (relative to baseline → current), and
    ``changed_cols`` — a comma-joined list of the compared columns whose
    values differ null-safely ('' for added/removed rows). Identical rows
    are dropped (a reconcile report is a violations report).

    Comparison is null-safe (`<=>`): NULL == NULL is equal, NULL vs value
    is a change — so nullability regressions surface as 'changed' rows.

    ``carry_cols`` pass through uncompared as ``coalesce(current, baseline)``
    — for key-derived columns identical on both sides (the suite's bucket
    column), so added rows carry the current side's value and removed rows
    the baseline's.
    """
    carry = [x for x in (carry_cols or []) if x not in key_cols]
    b = baseline.select(
        *key_cols,
        *[F.col(c).alias(f"_b_{c}") for c in compare_cols],
        *[F.col(c).alias(f"_bk_{c}") for c in carry],
    ).withColumn("_in_b", F.lit(1))
    c = current.select(
        *key_cols,
        *[F.col(col).alias(f"_c_{col}") for col in compare_cols],
        *[F.col(col).alias(f"_ck_{col}") for col in carry],
    ).withColumn("_in_c", F.lit(1))
    j = b.join(c, key_cols, "full_outer")

    col_diff = [
        ~F.col(f"_b_{x}").eqNullSafe(F.col(f"_c_{x}")) for x in compare_cols
    ]
    any_diff = F.lit(False)
    for d in col_diff:
        any_diff = any_diff | d
    change = (
        F.when(F.col("_in_b").isNull(), F.lit("added"))
        .when(F.col("_in_c").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    changed_cols = F.when(
        change == "changed",
        F.concat_ws(
            ",", *[F.when(d, F.lit(x)) for d, x in zip(col_diff, compare_cols)]
        ),
    ).otherwise(F.lit(""))
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *key_cols,
            "change",
            changed_cols.alias("changed_cols"),
            *[
                F.coalesce(F.col(f"_ck_{x}"), F.col(f"_bk_{x}")).alias(x)
                for x in carry
            ],
        )
    )


def metrics_zscores(
    history: DataFrame,
    key_cols: list[str],
    run_col: str,
    value_col: str,
    lam: float = 3.0,
    min_runs: int = 5,
) -> DataFrame:
    """Score the LATEST run's value of every metric against that metric's
    own run history — the reference's z-score screen (detector.py:196-215)
    over a metrics repository instead of a timeseries table.

    For each metric key: latest = value at max(run_col); history = all
    earlier runs. Emits one row per metric with ``mean_hist``/``std_hist``
    (sample stddev)/``n_hist``/``z`` and ``flagged``:

    - std_hist > 0: flagged iff z = |latest − mean|/std > lam (the
      reference's lambda threshold),
    - std_hist == 0 (constant history): flagged iff the latest value moved
      at all — any change on a constant metric is an anomaly (the
      zero-variance guard inverted, per the reference's intent that
      flat-line series flag on first movement),
    - both guarded by n_hist >= min_runs (the min-support guard: too-short
      history flags nothing).

    z is NULL when std_hist == 0. One shuffle on the metric key; the frame
    is O(runs × metrics) — driver-collectable downstream if desired, but
    returned distributed.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(run_col).desc()
    )
    r = history.withColumn("_rn", F.row_number().over(w))
    latest = r.filter(F.col("_rn") == 1).select(
        *key_cols,
        F.col(run_col).alias("run"),
        F.col(value_col).alias("value"),
    )
    hist = (
        r.filter(F.col("_rn") > 1)
        .groupBy(*key_cols)
        .agg(
            F.avg(value_col).alias("mean_hist"),
            F.stddev_samp(value_col).alias("std_hist"),
            F.count(F.lit(1)).alias("n_hist"),
        )
    )
    j = latest.join(hist, key_cols, "left")
    std = F.coalesce(F.col("std_hist"), F.lit(0.0))
    n = F.coalesce(F.col("n_hist"), F.lit(0))
    z = F.when(std > 0, F.abs(F.col("value") - F.col("mean_hist")) / std)
    flagged = F.when(n < F.lit(min_runs), F.lit(False)).otherwise(
        F.when(std > 0, z > F.lit(float(lam))).otherwise(
            F.col("value") != F.col("mean_hist")
        )
    )
    return j.select(
        *key_cols,
        "run",
        "value",
        "mean_hist",
        F.col("std_hist"),
        n.cast("long").alias("n_hist"),
        z.alias("z"),
        flagged.alias("flagged"),
    )


def metrics_anomalies(
    history: DataFrame,
    key_cols: list[str],
    run_col: str,
    value_col: str,
    lam: float = 3.0,
    min_runs: int = 5,
) -> DataFrame:
    """Only the flagged rows of :func:`metrics_zscores` — the alarm set."""
    return metrics_zscores(
        history, key_cols, run_col, value_col, lam=lam, min_runs=min_runs
    ).filter(F.col("flagged"))


# --- suite metrics repository ------------------------------------------------


def append_suite_metrics(
    verdicts: DataFrame, run_seq: int, path: str
) -> None:
    """Append one suite run's verdict observations to the metrics
    repository at ``path`` (parquet, append mode — each run is a tiny
    O(buckets × constraints) frame). ``run_seq`` is the caller's monotonic
    run ordinal (the repository needs an ORDER, and run_id strings don't
    provide one)."""
    (
        verdicts.select(
            F.lit(int(run_seq)).cast("long").alias("run_seq"),
            "run_id",
            F.col("bucket").cast("int"),
            "constraint_id",
            "metric",
            F.col("observed").cast("double"),
        ).write.mode("append").parquet(path)
    )


def next_run_seq(spark: SparkSession, path: str) -> int:
    """The next monotonic run ordinal for the repository at ``path``:
    max(run_seq) + 1, or 1 for a fresh/absent repository. ONLY the
    fresh-repository cases return 1 — a transient read failure of an
    EXISTING repository must raise, because silently restarting at 1
    would duplicate a run_seq and make 'latest run' nondeterministic in
    metrics_zscores forever after."""
    import os

    if not os.path.isdir(path):
        return 1
    try:
        mx = (
            spark.read.parquet(path)
            .agg(F.max("run_seq").alias("m"))
            .collect()[0]["m"]
        )
    except Exception as e:
        # a just-created dir with no part files yet is still "fresh"
        if "UNABLE_TO_INFER_SCHEMA" in str(e) or "PATH_NOT_FOUND" in str(e):
            return 1
        raise
    return int(mx) + 1 if mx is not None else 1


def suite_metrics_anomalies(
    spark: SparkSession,
    path: str,
    lam: float = 3.0,
    min_runs: int = 5,
) -> DataFrame:
    """Z-score the latest suite run's observed metric values against the
    repository history — the Deequ-style 'anomaly detection on your own
    data-quality metrics' loop, using the reference's screen semantics.
    NaN observations (all-null buckets) are excluded: NaN poisons mean/std
    and the stat check that produced it already failed absolutely."""
    h = spark.read.parquet(path).filter(~F.isnan("observed"))
    return metrics_anomalies(
        h,
        ["bucket", "constraint_id", "metric"],
        "run_seq",
        "observed",
        lam=lam,
        min_runs=min_runs,
    )


# --- schema evolution ---------------------------------------------------------


def schema_changes(
    current: T.StructType, baseline: T.StructType
) -> list[dict]:
    """Structural diff baseline → current: list of
    {column, change, observed, expected} dicts with change in
    {'column_added', 'column_removed', 'type_changed',
    'nullability_changed'}. Pure driver-side (schemas are KB-sized);
    deterministic order (current field order, then removed columns in
    baseline order)."""
    base = {f.name: f for f in baseline.fields}
    cur = {f.name: f for f in current.fields}
    out: list[dict] = []
    for f in current.fields:
        b = base.get(f.name)
        if b is None:
            out.append(
                {
                    "column": f.name,
                    "change": "column_added",
                    "observed": f.dataType.simpleString(),
                    "expected": "<absent>",
                }
            )
        elif f.dataType != b.dataType:
            out.append(
                {
                    "column": f.name,
                    "change": "type_changed",
                    "observed": f.dataType.simpleString(),
                    "expected": b.dataType.simpleString(),
                }
            )
        elif f.nullable != b.nullable:
            out.append(
                {
                    "column": f.name,
                    "change": "nullability_changed",
                    "observed": f"nullable={f.nullable}",
                    "expected": f"nullable={b.nullable}",
                }
            )
    for f in baseline.fields:
        if f.name not in cur:
            out.append(
                {
                    "column": f.name,
                    "change": "column_removed",
                    "observed": "<absent>",
                    "expected": f.dataType.simpleString(),
                }
            )
    return out
