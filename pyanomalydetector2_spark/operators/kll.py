"""Mergeable KLL-style quantile sketch — distributed, weight-conserving,
deterministic compaction.

The north-star profile names "quantiles via KLL sketch"; ``column_profile``
(stats.py) uses Spark's built-in ``percentile_approx`` (a Greenwald–Khanna
summary) for its one-shot pass. What that built-in cannot do is the engine's
incremental-maintenance story: persist per-group sketch STATE in the catalog
and fold new snapshots in without rescanning history — the quantile analog of
``merge_moments`` (reference stats algebra, data_processing/stats.py:75-135,
re-expressed; see operators/stats.py). This module provides that:

- ``kll_build(df, value_col, group_cols, k)`` — two-phase distributed build:
  phase 1 is ``mapInPandas`` building one partial sketch per (input
  partition × group) with NO shuffle (the map-side-combine shape — at 10^12
  rows each partition is reduced to a few KB of sketch before any exchange);
  phase 2 shuffles only those sketch rows and merges per group with
  ``applyInPandas``. One tiny shuffle total, Arrow-batched, no per-row Python.
- ``kll_merge(a, b, group_cols)`` — union two persisted sketch tables and
  re-merge (incremental maintenance across snapshots, exactly the
  ``merge_moments`` union-reaggregate shape: one shuffle of sketch rows).
- ``_Sketch.from_row(...).quantiles(qs)`` — query quantiles out of one
  sketch row on the driver (sketch rows are KBs, whatever the row count).

Sketch structure: levels of double arrays, level ``i`` items carry weight
``2**i``; every level has capacity ``k``. A full level is sorted and every
other item promoted to the level above (the MRL/KLL compaction schedule).
Two deliberate choices:

- **Weight conservation.** An odd buffer leaves one survivor at the level
  (alternating min/max end) so the sketch's total weight ALWAYS equals the
  true count n — rank targets ``q*n`` stay exact, never drifting with
  compaction parity.
- **Deterministic alternation.** The classic random offset is replaced by a
  per-level compaction counter (serialized in the state), so a given merge
  order reproduces bit-identically and the alternation cancels bias the way
  the KLL paper's derandomized variant does. Across different partition
  orders the ESTIMATE may differ within the rank-error bound (inherent to any
  distributed sketch; tested in tests/test_kll.py).

Rank rule: the returned quantile is the smallest stored item whose cumulative
weight reaches ``ceil(q*n)`` — DuckDB's ``quantile_disc`` nearest-rank rule,
so the exact regime (n ≤ k per group: zero compactions, all weights 1) is
hash-comparable against a SQL oracle. Worst-case rank error in the compacting
regime is bounded by ``sum over compactions of w/2 ≤ n * ceil(log2(n/k) + 1)
/ (2k)`` (``_error_bound``, pinned by unit + hypothesis tests); the
alternation halves it in practice.

Consumers inside the engine: equi-depth drift baselines
(drift.quantile_edges_from_sketch + the suite/CLI sketch store) and
percentile StatChecks in the batch AND streaming suites
(constraints/suite.percentile_sketches shares ``STAT_SKETCH_K`` so the two
engines agree bit-for-bit in the exact regime; both read the quantiles off
the merged sketch rows on the driver; streaming state folds via
``kll_merge_rows``).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SKETCH_FIELDS = ("kll_k", "kll_n", "kll_levels", "kll_compactions")

# one k for every percentile StatCheck sketch, batch AND streaming: in the
# exact regime (n per group <= k) the two engines agree bit-for-bit
# regardless of merge order; past it both stay within the same rank bound
STAT_SKETCH_K = 4096

_STATE_FIELDS = [
    StructField("kll_k", IntegerType(), False),
    StructField("kll_n", LongType(), False),
    StructField("kll_levels", ArrayType(ArrayType(DoubleType(), False), False), False),
    StructField("kll_compactions", ArrayType(IntegerType(), False), False),
]


# ---------------------------------------------------------------------------
# numpy core (driver- and executor-side; operates on plain python/numpy state)
# ---------------------------------------------------------------------------


class _Sketch:
    """In-memory sketch state: levels[i] holds weight-2**i items (unsorted
    between compactions; sorted on demand)."""

    __slots__ = ("k", "n", "levels", "compactions")

    def __init__(self, k: int):
        if k < 8:
            raise ValueError(f"kll k must be >= 8, got {k}")
        self.k = int(k)
        self.n = 0
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.compactions: list[int] = [0]

    def add(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[np.isfinite(v)]
        if not len(v):
            return
        self.n += len(v)
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compact_all()

    def merge(self, other: "_Sketch") -> None:
        if other.k != self.k:
            raise ValueError(f"cannot merge sketches with k={self.k} and k={other.k}")
        self.n += other.n
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.compactions.append(0)
        for i, lv in enumerate(other.levels):
            if len(lv):
                self.levels[i] = np.concatenate([self.levels[i], lv])
            self.compactions[i] += other.compactions[i]
        self._compact_all()

    def _compact_all(self) -> None:
        lvl = 0
        while lvl < len(self.levels):
            if len(self.levels[lvl]) > self.k:
                self._compact(lvl)
            lvl += 1

    def _compact(self, lvl: int) -> None:
        buf = np.sort(self.levels[lvl], kind="stable")
        cnt = self.compactions[lvl]
        if len(buf) & 1:
            # weight conservation: one survivor stays at this level,
            # alternating between the max and min end per compaction
            if cnt & 1:
                survivor, buf = buf[:1], buf[1:]
            else:
                survivor, buf = buf[-1:], buf[:-1]
        else:
            survivor = buf[:0]
        promoted = buf[(cnt & 1) :: 2]
        self.levels[lvl] = survivor
        self.compactions[lvl] = cnt + 1
        if lvl + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.compactions.append(0)
        self.levels[lvl + 1] = np.concatenate([self.levels[lvl + 1], promoted])

    # --- (de)serialization to the DataFrame row shape ---

    def to_row(self) -> tuple[int, int, list[list[float]], list[int]]:
        return (
            self.k,
            self.n,
            [lv.tolist() for lv in self.levels],
            list(self.compactions),
        )

    @classmethod
    def from_row(cls, k: int, n: int, levels, compactions) -> "_Sketch":
        s = cls(int(k))
        s.n = int(n)
        s.levels = [np.asarray(lv, dtype=np.float64) for lv in levels]
        s.compactions = [int(c) for c in compactions]
        if not s.levels:
            s.levels = [np.empty(0, dtype=np.float64)]
            s.compactions = [0]
        return s

    def total_weight(self) -> int:
        return int(sum(len(lv) << i for i, lv in enumerate(self.levels)))

    def quantiles(self, qs: Sequence[float]) -> list[float | None]:
        items = np.concatenate(self.levels) if self.n else np.empty(0)
        if not len(items):
            return [None] * len(qs)
        weights = np.concatenate(
            [np.full(len(lv), 1 << i, dtype=np.int64) for i, lv in enumerate(self.levels)]
        )
        order = np.argsort(items, kind="stable")
        items, weights = items[order], weights[order]
        cumw = np.cumsum(weights)
        n = self.n  # == total_weight(): compaction conserves weight
        out = []
        for q in qs:
            # DuckDB quantile_disc nearest-rank: smallest item whose
            # cumulative weight reaches ceil(q*n)
            target = math.ceil(q * n) if q > 0 else 1
            target = min(max(target, 1), n)
            idx = int(np.searchsorted(cumw, target, side="left"))
            out.append(float(items[min(idx, len(items) - 1)]))
        return out


def _error_bound(n: int, k: int) -> float:
    """Worst-case rank-error fraction for this compaction schedule."""
    if n <= k:
        return 0.0
    return math.ceil(math.log2(n / k) + 1) / (2 * k)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _rows_to_sketch(pdf: pd.DataFrame, k: int) -> _Sketch:
    """Merge all serialized sketch rows of one group into one state."""
    acc = _Sketch(k)
    for kk, n, levels, comps in zip(
        pdf["kll_k"], pdf["kll_n"], pdf["kll_levels"], pdf["kll_compactions"]
    ):
        acc.merge(_Sketch.from_row(kk, n, levels, comps))
    return acc


def kll_build_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    k: int = 4096,
) -> DataFrame:
    """Sketches for MANY columns in ONE Arrow pass — one row per
    (group, column), tagged by a ``column`` field. The Arrow JVM→Python
    transfer is the dominant cost of a sketch build (BASELINE.md §24),
    so multi-column percentile checks must not pay it per column.
    Null/NaN/±inf values are ignored per column (they are screened by the
    null-rate / finiteness checks, not the quantile profile); a
    (group, column) whose values are ALL non-finite emits no row, matching
    the single-column build. NaN in a float GROUP column joins the NULL
    group (normalized JVM-side — see the inline note)."""
    gcols = list(group_cols)
    vcols = list(value_cols)
    # float/double GROUP keys: NaN is normalized to NULL JVM-side, BEFORE
    # the Arrow transfer. Spark's own groupBy would keep NaN and NULL as
    # two distinct groups, but pandas surfaces both as NaN so the Python
    # side cannot tell them apart — declaring "NaN keys join the NULL
    # group" up front makes the behavior deterministic and visible (cast
    # float keys to string upstream if NaN must stay a distinct group).
    from pyspark.sql.types import DoubleType, FloatType

    gexprs = [
        F.when(F.isnan(c), F.lit(None)).otherwise(F.col(c)).alias(c)
        if isinstance(df.schema[c].dataType, (FloatType, DoubleType))
        else F.col(c)
        for c in gcols
    ]
    casts = [F.col(c).cast("double").alias(c) for c in vcols]
    # rows where every value column is non-finite carry nothing: drop them
    # JVM-side so they never cross the Arrow boundary
    keep = None
    for c in vcols:
        fin = F.col(c).cast("double")
        cond = fin.isNotNull() & ~F.isnan(fin)
        keep = cond if keep is None else (keep | cond)
    src = df.filter(keep).select(*gexprs, *casts)
    out_schema = StructType(
        [src.schema[c] for c in gcols]
        + [StructField("column", StringType(), False)]
        + _STATE_FIELDS
    )
    out_cols = gcols + ["column"] + list(SKETCH_FIELDS)

    def partial(batches):
        sketches: dict[tuple, _Sketch] = {}
        for pdf in batches:
            if gcols:
                grouped = pdf.groupby(gcols, dropna=False, sort=False)
            else:
                grouped = [((), pdf)]
            for key, grp in grouped:
                if gcols and not isinstance(key, tuple):
                    key = (key,)
                # pandas surfaces a NULL group key as NaN; normalize back to
                # None so Arrow writes a null (not a failed int cast) and the
                # null group survives like Spark's own groupBy semantics
                key = tuple(
                    None if (isinstance(k, float) and math.isnan(k)) else k
                    for k in key
                )
                for c in vcols:
                    sk = sketches.get((key, c))
                    if sk is None:
                        sk = sketches[(key, c)] = _Sketch(k)
                    sk.add(grp[c].to_numpy(dtype=np.float64))
        rows = [
            dict(zip(gcols, key))
            | {"column": c}
            | dict(zip(SKETCH_FIELDS, sk.to_row()))
            for (key, c), sk in sketches.items()
            if sk.n > 0
        ]
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    partials = src.mapInPandas(partial, schema=out_schema)
    return _merge_rows(partials, gcols + ["column"], out_schema, k)


def kll_build(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = 4096,
) -> DataFrame:
    """Build one sketch row per group: mapInPandas partials (no shuffle) then
    a sketch-rows-only shuffle + applyInPandas merge. Null/NaN/±inf values are
    ignored (they are screened by the null-rate / finiteness checks, not the
    quantile profile). Thin single-column wrapper over ``kll_build_multi``."""
    return kll_build_multi(df, [value_col], group_cols, k).drop("column")


def _merge_rows(
    partials: DataFrame, gcols: list[str], out_schema: StructType, k: int
) -> DataFrame:
    def merge_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = _rows_to_sketch(pdf, k)
        row = dict(zip(gcols, key)) | dict(zip(SKETCH_FIELDS, acc.to_row()))
        return pd.DataFrame([row], columns=gcols + list(SKETCH_FIELDS))

    if gcols:
        return partials.groupBy(*gcols).applyInPandas(merge_group, schema=out_schema)
    tagged = partials.withColumn("_g", F.lit(0))
    merged = tagged.groupBy("_g").applyInPandas(
        lambda key, pdf: merge_group((), pdf),
        schema=out_schema,
    )
    return merged.select(*[f.name for f in out_schema.fields])


def kll_merge_rows(df: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Merge a table of sketch rows down to ONE sketch per group — the fold
    used by both ``kll_merge`` and streaming-state compaction. One shuffle
    of sketch rows."""
    gcols = list(group_cols)
    cols = gcols + list(SKETCH_FIELDS)
    # k is per-row state; the merge validates compatibility row-by-row
    schema = StructType([df.schema[c] for c in gcols] + _STATE_FIELDS)

    def merge_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = _rows_to_sketch(pdf, int(pdf["kll_k"].iloc[0]))
        row = dict(zip(gcols, key)) | dict(zip(SKETCH_FIELDS, acc.to_row()))
        return pd.DataFrame([row], columns=cols)

    src = df.select(*cols)
    if gcols:
        return src.groupBy(*gcols).applyInPandas(merge_group, schema=schema)
    return (
        src.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(lambda key, pdf: merge_group((), pdf), schema=schema)
        .select(*cols)
    )


def kll_merge(a: DataFrame, b: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Union-merge two persisted sketch tables (the quantile analog of
    ``merge_moments``): full-outer semantics, one shuffle of sketch rows."""
    cols = list(group_cols) + list(SKETCH_FIELDS)
    return kll_merge_rows(
        a.select(*cols).unionByName(b.select(*cols)), group_cols
    )

