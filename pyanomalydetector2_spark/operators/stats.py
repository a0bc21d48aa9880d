"""Mergeable per-key moment statistics — the engine's central structure.

Re-expression of the reference's stats algebra (A1/A2 in SURVEY.md §2.4):
/root/reference/data_processing/stats.py:75-135 maintains per-item
``(sum, sqr_sum, cnt)`` and finalizes ``mean = sum/cnt``,
``std = sqrt((sqr_sum - sum^2/cnt)/(cnt-1))`` (Bessel), inf/NaN→0.

That triple is associative + commutative, i.e. exactly Spark's partial/final
aggregation algebra — ``groupBy().agg(sum, sum(x^2), count)`` gives the same
mergeability Catalyst-native, map-side combined, whole-stage-codegen'd. The
reference's incremental add/subtract windows (stats.py:88-124) become
``merge_moments`` / ``subtract_moments`` over the persisted stats table.

At 100 TB: one shuffle on the group key, partial agg on the map side reduces
each input partition to |distinct keys| rows before the exchange; no per-row
Python anywhere.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyanomalydetector2_spark.functions import clean_float

MOMENT_COLS = ("sum", "sqr_sum", "cnt")


def moment_aggs(value_col: str = "value") -> list[Column]:
    """The partial-agg expressions for one pass."""
    v = F.col(value_col)
    return [
        F.sum(v).alias("sum"),
        F.sum(v * v).alias("sqr_sum"),
        F.count(v).alias("cnt"),
    ]


def finalize_moments(df: DataFrame) -> DataFrame:
    """Closed-form mean/std from the (sum, sqr_sum, cnt) triple.

    Matches reference stats.py:130-139 exactly: Bessel's correction,
    inf/NaN→0 (covers cnt<=1 and zero-variance keys).
    """
    # try_divide: ANSI-safe (Spark 4 default) — cnt<=1 → null → cleaned to 0,
    # matching the reference's inf/NaN→0 behavior.
    mean = F.try_divide(F.col("sum"), F.col("cnt"))
    var = F.try_divide(
        F.col("sqr_sum") - F.try_divide(F.col("sum") * F.col("sum"), F.col("cnt")),
        F.col("cnt") - 1,
    )
    return df.withColumn("mean", clean_float(mean)).withColumn(
        "std", clean_float(F.sqrt(var))
    )


def moment_stats(
    df: DataFrame, keys: Sequence[str], value_col: str = "value"
) -> DataFrame:
    """Single-pass per-key moment stats (A1): one shuffle, map-side combine."""
    return finalize_moments(df.groupBy(*keys).agg(*moment_aggs(value_col)))


def merge_moments(a: DataFrame, b: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Union-merge two moment tables (reference J2, stats.py:90-98).

    Full outer semantics: keys on one side only pass through. Implemented as
    union + re-aggregate (cheaper than outer join + coalesce: a single
    shuffle, and AQE coalesces the tiny result).
    """
    cols = list(keys) + list(MOMENT_COLS)
    merged = (
        a.select(*cols)
        .unionByName(b.select(*cols))
        .groupBy(*keys)
        .agg(
            F.sum("sum").alias("sum"),
            F.sum("sqr_sum").alias("sqr_sum"),
            F.sum("cnt").alias("cnt"),
        )
    )
    return finalize_moments(merged)


def subtract_moments(cur: DataFrame, old: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Expire a window by subtracting its moments (reference J3,
    stats.py:119-124, outer-join + fillna(0) semantics). Keys whose cnt
    drops to 0 are removed. Negation + union-merge keeps it one shuffle."""
    neg = old.select(
        *keys,
        (-F.col("sum")).alias("sum"),
        (-F.col("sqr_sum")).alias("sqr_sum"),
        (-F.col("cnt")).alias("cnt"),
    )
    return merge_moments(cur, neg, keys).filter(F.col("cnt") > 0)


# the exactly-mergeable per-(group, column) profile fields
PARTIAL_FIELDS = ("row_cnt", "cnt", "null_cnt", "min", "max", "sum", "sqr_sum")


def profile_partial_aggs(columns: Sequence[str]) -> list[Column]:
    """The exactly-mergeable subset of ``column_profile`` as aggregate
    expressions, ``<column>__<field>`` for each of ``PARTIAL_FIELDS``, with
    the same try_cast semantics. The suite's per-bucket summary
    (``suite.suite_summary``) adds them to its one grouped aggregate;
    ``profile_from_partial_rows`` then reproduces the one-shot profile's
    null_rate/mean/std/min/max/cnt algebra over the merged scalars on the
    driver, for both engines.
    (approx_distinct and quantiles are sketch-backed and NOT derivable
    from these scalars — a StatCheck on those stats is rejected
    (``suite.ensure_known_stats``), not silently wrong.)"""
    total = F.count(F.lit(1))
    aggs = []
    for c in columns:
        v = F.col(c)
        num = v.try_cast("double")
        aggs += [
            total.alias(f"{c}__row_cnt"),
            F.count(num).alias(f"{c}__cnt"),
            (total - F.count(v)).alias(f"{c}__null_cnt"),
            F.min(num).alias(f"{c}__min"),
            F.max(num).alias(f"{c}__max"),
            F.sum(num).alias(f"{c}__sum"),
            F.sum(num * num).alias(f"{c}__sqr_sum"),
        ]
    return aggs


def _finite_or_zero(x: float | None) -> float:
    """Driver twin of ``clean_float``: NULL/NaN/±inf → 0."""
    return x if x is not None and math.isfinite(x) else 0.0


def _spark_min(xs: list[float]) -> float | None:
    """Spark's ``min`` over doubles: NULLs skipped, NaN above every value."""
    finite = [x for x in xs if not math.isnan(x)]
    return min(finite) if finite else (xs[0] if xs else None)


def _spark_max(xs: list[float]) -> float | None:
    """Spark's ``max`` over doubles: NULLs skipped, NaN above every value."""
    if any(math.isnan(x) for x in xs):
        return math.nan
    return max(xs) if xs else None


def profile_from_partial_rows(rows) -> dict[tuple, dict]:
    """Merge partial profile rows (bucket, column and ``PARTIAL_FIELDS``)
    on the driver and finalize them: {(bucket, column): {row_cnt, cnt,
    null_cnt, min, max, sum, sqr_sum, mean, std, null_rate}}. Counts and
    sums add, min/max combine with Spark's NULL/NaN ordering, then the
    closed form of
    ``finalize_moments`` (Bessel, try_divide, inf/NaN→0) and the
    try_divide null_rate of ``column_profile`` apply — one definition of
    each stat. Rows are (bucket × column) per batch, so this is kilobytes
    of state; float sums differ from the one-shot pass only in addition
    order."""
    acc: dict[tuple, dict] = {}
    for r in rows:
        a = acc.setdefault(
            (r["bucket"], r["column"]),
            {"row_cnt": 0, "cnt": 0, "null_cnt": 0, "min": [], "max": [],
             "sum": [], "sqr_sum": []},
        )
        for f in ("row_cnt", "cnt", "null_cnt"):
            a[f] += r[f]
        for f in ("min", "max", "sum", "sqr_sum"):
            if r[f] is not None:
                a[f].append(r[f])
    out = {}
    for key, a in acc.items():
        cnt = a["cnt"]
        s = sum(a["sum"]) if a["sum"] else None
        sq = sum(a["sqr_sum"]) if a["sqr_sum"] else None
        mean = s / cnt if s is not None and cnt else None
        var = (
            (sq - s * s / cnt) / (cnt - 1)
            if s is not None and sq is not None and cnt > 1
            else None
        )
        out[key] = {
            "row_cnt": a["row_cnt"],
            "cnt": cnt,
            "null_cnt": a["null_cnt"],
            "min": _spark_min(a["min"]),
            "max": _spark_max(a["max"]),
            "sum": s,
            "sqr_sum": sq,
            "mean": _finite_or_zero(mean),
            "std": _finite_or_zero(
                math.sqrt(var) if var is not None and var >= 0 else None
            ),
            "null_rate": (
                a["null_cnt"] / a["row_cnt"] if a["row_cnt"] else None
            ),
        }
    return out


def column_profile(
    df: DataFrame,
    columns: Sequence[str],
    group_cols: Sequence[str] = (),
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Full single-pass column-stats profile for the validation engine
    (north_rule: count, null-rate, min/max, mean/stddev via the moment
    algebra, approx quantiles via the built-in KLL-style sketch).

    Emits one row per (group, column): long/tidy layout so verdict joins are
    uniform. ALL columns' aggregates ride ONE scan + one shuffle (wide
    aggregation row, unpivoted to long with ``stack`` afterwards) — at
    10^12 rows this is the difference between 1 and |columns| table passes.
    """
    total = F.count(F.lit(1))
    fields = (
        "row_cnt",
        "cnt",
        "null_cnt",
        "min",
        "max",
        "sum",
        "sqr_sum",
        "approx_distinct",
        "quantiles",
    )
    aggs = []
    for c in columns:
        v = F.col(c)
        num = v.try_cast("double")  # string columns → null numeric stats (ANSI-safe)
        aggs += [
            total.alias(f"{c}__row_cnt"),
            # cnt counts values that enter the moment sums (try_cast
            # survivors) so mean = sum/cnt uses a matched denominator even
            # on partially-castable string columns; raw non-null count =
            # row_cnt − null_cnt as before
            F.count(num).alias(f"{c}__cnt"),
            (total - F.count(v)).alias(f"{c}__null_cnt"),
            F.min(num).alias(f"{c}__min"),
            F.max(num).alias(f"{c}__max"),
            F.sum(num).alias(f"{c}__sum"),
            F.sum(num * num).alias(f"{c}__sqr_sum"),
            F.approx_count_distinct(v).alias(f"{c}__approx_distinct"),
            F.percentile_approx(num, list(quantiles), 10000).alias(f"{c}__quantiles"),
        ]
    g = df.groupBy(*group_cols) if group_cols else df.groupBy()
    wide = g.agg(*aggs)
    stack_args = ", ".join(
        "'{c}', {flds}".format(
            c=c, flds=", ".join(f"`{c}__{f}`" for f in fields)
        )
        for c in columns
    )
    out = wide.select(
        *group_cols,
        F.expr(
            f"stack({len(columns)}, {stack_args}) AS "
            f"(column, {', '.join(fields)})"
        ),
    )
    out = finalize_moments(out).withColumn(
        "null_rate", F.try_divide(F.col("null_cnt"), F.col("row_cnt"))
    )
    front = list(group_cols) + ["column"]
    return out.select(*front, *[c for c in out.columns if c not in front])


def freshness(
    df: DataFrame,
    ts_col: str,
    as_of: str,
    group_cols: Sequence[str] = (),
    max_lag_s: float | None = None,
) -> DataFrame:
    """Per-group data freshness — the Deequ/Great-Expectations staple the
    suite's value checks cannot express: how stale is each partition's
    newest row at ``as_of`` (an ISO timestamp literal, naive/UTC like the
    session)?

    Returns (group…, n_rows, max_ts, lag_us, fresh?) — ``lag_us`` is the
    exact integer microsecond gap (timestampdiff against the literal; no
    float seconds, so a SQL replay needs no rounding convention) and
    ``fresh`` is emitted only when ``max_lag_s`` is given. Groups whose
    timestamps are all NULL get NULL max_ts/lag_us and fail closed
    (fresh = false): no evidence of freshness is not freshness.

    Scale shape: one map-side-combinable max/count aggregation — the
    cheapest whole-table check in the suite family; at 10^12 rows the
    scan is the cost and the result is |groups| rows."""
    g = df.groupBy(*[F.col(c) for c in group_cols]) if group_cols else df.groupBy()
    out = (
        g.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max(F.col(ts_col)).alias("max_ts"),
        )
        # as_of enters as a typed literal COLUMN, never spliced into SQL
        # text (a quote in the string must fail the timestamp cast, not
        # escape the expression)
        .withColumn("__as_of", F.to_timestamp_ntz(F.lit(as_of)))
        .withColumn(
            "lag_us",
            F.expr("timestampdiff(MICROSECOND, max_ts, __as_of)").cast(
                "long"
            ),
        )
        .drop("__as_of")
    )
    if max_lag_s is not None:
        out = out.withColumn(
            "fresh",
            F.coalesce(
                F.col("lag_us") <= F.lit(int(max_lag_s * 1_000_000)),
                F.lit(False),
            ),
        )
    return out
