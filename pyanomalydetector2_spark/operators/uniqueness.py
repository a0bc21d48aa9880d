"""Uniqueness validation (north_rule): the exact confirm behind the HLL
screen.

The two-stage shape mirrors the reference's detect1→detect2 funnel
(detect_anomalies.py:79-96): ``run_suite`` computes a cheap HLL distinct
estimate per bucket in the one aggregation job that also yields the bucket
list (HLL partials merge on the map side), and the exact pass here emits
the violation rows.

The exact pass is a groupBy(key) count — for a near-unique key there is no
skew by construction (every group ≈1 row, partial aggregation collapses each
map partition to its local distincts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_duplicates(
    df: DataFrame, key: str, salt_buckets: int | None = None
) -> DataFrame:
    """Exact duplicate groups → (key, dup_cnt) with dup_cnt > 1.
    One shuffle on the key; map-side combine means the exchange carries at
    most |distinct keys per partition| rows.

    ``salt_buckets`` opts into the salted two-phase count
    (skew.salted_count): a degenerate hot key (ingest bug writing one
    clip_id 10^9 times) spreads over that many reducers in phase 1 instead
    of pinning one. Results are identical — the count merge is exact."""
    if salt_buckets:
        from pyanomalydetector2_spark.operators.skew import salted_count

        counts = salted_count(df.select(key), [key], salt_buckets)
        return counts.withColumnRenamed("cnt", "dup_cnt").filter(
            F.col("dup_cnt") > 1
        )
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("dup_cnt"))
        .filter(F.col("dup_cnt") > 1)
    )


def duplicate_rows(
    df: DataFrame,
    key: str,
    extra_cols: list[str] | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """All rows participating in a duplicated key (violation rows). The dup
    key set is small (violations are rare) → broadcast semi join back."""
    dups = exact_duplicates(df, key, salt_buckets)
    cols = [key] + (extra_cols or [])
    return df.select(*cols).join(F.broadcast(dups), key, "inner")
