"""Referential-integrity and functional-dependency validation (north_rule)
— the Spark re-expression of the reference's existing/nonexisting id split
(models/model.py:44-59, J9 in SURVEY §2.3).

Dims are tiny by contract (codec/sr_hz domains). The suite collects each
referenced dim column once per run or micro-batch and checks membership as
a row predicate (``referential_predicate``) inside its one row-check scan:
no dim shuffle, no broadcast, no extra scan of the fact table.
``referential_violations`` is the same check as a standalone broadcast
anti-join, a map-side hash probe with zero shuffle of the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def referential_violations(
    fact: DataFrame, column: str, dim: DataFrame, keep_cols: list[str] | None = None
) -> DataFrame:
    """Rows whose ``column`` value is absent from ``dim`` (nulls excluded —
    null-rate is a separate stat constraint)."""
    cols = list(dict.fromkeys((keep_cols or []) + [column]))
    return (
        fact.select(*cols)
        .filter(F.col(column).isNotNull())
        .join(F.broadcast(dim.select(column).distinct()), column, "left_anti")
    )


def referential_predicate(column: str, dim: DataFrame) -> Column:
    """``column IS NULL OR column IN (<dim values>)``: the row-level form of
    ``referential_violations``, true on a row that check keeps out. The dim
    column is collected on the driver (no Spark job for a local dim); its
    NULLs are dropped, as the anti-join never matches them, and each value
    is cast to the dim column's type, so the comparison coerces the two
    types as the join does (an int fact column against a bigint dim)."""
    dtype = dim.schema[column].dataType
    values = list(dict.fromkeys(
        r[0] for r in dim.select(column).collect() if r[0] is not None
    ))
    null = F.col(column).isNull()
    if not values:
        return null
    return null | F.col(column).isin(*[F.lit(v).cast(dtype) for v in values])


def fd_violations(
    fact: DataFrame,
    determinant: list[str],
    dependent: str,
    carry_min: list[str] | None = None,
) -> DataFrame:
    """Functional-dependency violations: one row per determinant-value group
    whose ``dependent`` column takes more than one distinct value — the
    cross-column consistency check (codec → container family, brand →
    manufacturer) that per-column stats and referential checks cannot see.
    The reference's nearest analog is the per-item condition interpreter
    (detector.py:169-185), which can only look at one row at a time; an FD
    is inherently a group property.

    Output per violating group: the determinant columns, ``n_values``
    (distinct dependent values), ``n_rows`` (rows in the group), and two
    O(1) conflict witnesses ``dep_min``/``dep_max`` (no collect_set — a
    pathological determinant with millions of dependent values costs
    nothing extra; min/max skip NULLs, so a NULL-vs-value conflict shows
    the same witness twice). ``carry_min`` columns come back as their
    group-wise min (exemplar key / bucket for violation-row plumbing).

    Scale shape: two aggregations, both algebraic and map-side combinable —
    distinct (determinant, dependent) pairs first (duplicates collapse
    before the exchange), then a per-determinant rollup of the tiny pair
    frame. Grouping is null-safe natively (NULL dependent is a value and
    conflicts with any non-NULL one).
    """
    carry = [c for c in (carry_min or []) if c not in determinant and c != dependent]
    pairs = fact.groupBy(*determinant, dependent).agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[F.min(c).alias(f"_m_{c}") for c in carry],
    )
    grp = pairs.groupBy(*determinant).agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum("_cnt").alias("n_rows"),
        F.min(dependent).alias("dep_min"),
        F.max(dependent).alias("dep_max"),
        *[F.min(f"_m_{c}").alias(c) for c in carry],
    )
    return grp.filter(F.col("n_values") > 1)


def fd_det_repr(determinant: list[str]):
    """'col=value' comma-joined Column over the determinant — the violation
    row's group label, shared by the batch and streaming suite runners so
    both emit byte-identical observed strings."""
    return F.concat_ws(
        ",",
        *[
            F.concat(F.lit(f"{d}="), F.col(d).cast("string"))
            for d in determinant
        ],
    )


def fd_observed(det_repr, n_values, n_rows, dep_min, dep_max):
    """The FD violation row's observed string: group label, sizes, and the
    two min/max conflict witnesses (shared batch/streaming formatting)."""
    return F.concat(
        det_repr,
        F.lit(" n_values="),
        n_values.cast("string"),
        F.lit(" rows="),
        n_rows.cast("string"),
        F.lit(" e.g. "),
        F.coalesce(dep_min.cast("string"), F.lit("NULL")),
        F.lit(" vs "),
        F.coalesce(dep_max.cast("string"), F.lit("NULL")),
    )
