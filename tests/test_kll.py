"""Mergeable KLL quantile sketch: exact regime vs nearest-rank oracle,
compacting-regime error bounds, merge/incremental-maintenance equivalence."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyanomalydetector2_spark.operators.kll import (
    _error_bound,
    _Sketch,
    kll_build,
    kll_merge,
)

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _quantiles(sketches, qs, group_cols=()):
    """Query each collected sketch row on the driver: its group keys, ``n``
    and ``q_values``."""
    return [
        {
            **{g: r[g] for g in group_cols},
            "n": r["kll_n"],
            "q_values": _Sketch.from_row(
                r["kll_k"], r["kll_n"], r["kll_levels"], r["kll_compactions"]
            ).quantiles(qs),
        }
        for r in sketches.collect()
    ]


def _disc_quantile(sorted_vals: np.ndarray, q: float) -> float:
    """DuckDB quantile_disc nearest-rank rule: sorted[ceil(q*n)-1]."""
    n = len(sorted_vals)
    idx = max(math.ceil(q * n), 1) - 1
    return float(sorted_vals[min(idx, n - 1)])


def _rank_error(sorted_vals: np.ndarray, q: float, est: float) -> float:
    """|rank(est) - q*n| / n with rank as the nearest-rank position range."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left")
    hi = np.searchsorted(sorted_vals, est, side="right")
    target = q * n
    if lo <= target <= hi:
        return 0.0
    return min(abs(lo - target), abs(hi - target)) / n


# ---------------------------------------------------------------------------
# numpy core
# ---------------------------------------------------------------------------


def test_core_exact_regime_matches_nearest_rank():
    rng = np.random.default_rng(7)
    vals = rng.normal(size=500)
    sk = _Sketch(1024)
    sk.add(vals)
    s = np.sort(vals)
    assert sk.quantiles(QS) == [_disc_quantile(s, q) for q in QS]
    assert sk.total_weight() == sk.n == 500


def test_core_weight_conserved_under_compaction():
    rng = np.random.default_rng(11)
    sk = _Sketch(64)
    for _ in range(40):
        sk.add(rng.exponential(size=1237))  # odd batch sizes force survivors
    assert sk.total_weight() == sk.n == 40 * 1237


@pytest.mark.parametrize("k,n", [(64, 20000), (256, 200000)])
def test_core_compacting_regime_error_bound(k, n):
    rng = np.random.default_rng(k + n)
    vals = rng.lognormal(size=n)
    sk = _Sketch(k)
    for chunk in np.array_split(vals, 37):
        sk.add(chunk)
    s = np.sort(vals)
    bound = _error_bound(n, k)
    for q in QS:
        err = _rank_error(s, q, sk.quantiles([q])[0])
        assert err <= bound, (q, err, bound)


def test_core_merge_within_bound_and_weight_exact():
    rng = np.random.default_rng(3)
    a_vals, b_vals = rng.normal(size=30000), rng.normal(2.0, size=50000)
    a, b = _Sketch(128), _Sketch(128)
    a.add(a_vals)
    b.add(b_vals)
    a.merge(b)
    allv = np.sort(np.concatenate([a_vals, b_vals]))
    assert a.total_weight() == a.n == 80000
    bound = _error_bound(80000, 128)
    for q in QS:
        assert _rank_error(allv, q, a.quantiles([q])[0]) <= bound


def test_core_merge_k_mismatch_raises():
    with pytest.raises(ValueError, match="k=64"):
        _Sketch(64).merge(_Sketch(128))


def test_core_nan_inf_ignored():
    sk = _Sketch(64)
    sk.add(np.array([1.0, np.nan, np.inf, -np.inf, 2.0, 3.0]))
    assert sk.n == 3
    assert sk.quantiles([0.5]) == [2.0]


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _events_df(spark, n=6000, groups=("a", "b", "c"), seed=5):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(list(groups), size=n),
            "v": rng.normal(10.0, 3.0, size=n),
        }
    )
    # plant nulls + NaN to pin the screen
    pdf.loc[:10, "v"] = np.nan
    return spark.createDataFrame(pdf), pdf


def test_spark_exact_regime_grouped_matches_oracle(spark):
    df, pdf = _events_df(spark)
    got = {}
    for parts in (1, 7):
        sk = kll_build(df.repartition(parts), "v", ["g"], k=8192)
        out = _quantiles(sk, [0.25, 0.5, 0.75], ["g"])
        got[parts] = {r["g"]: (r["n"], tuple(r["q_values"])) for r in out}
    clean = pdf.dropna()
    expect = {}
    for g, grp in clean.groupby("g"):
        s = np.sort(grp["v"].to_numpy())
        expect[g] = (len(s), tuple(_disc_quantile(s, q) for q in (0.25, 0.5, 0.75)))
    # exact regime: identical across partitionings AND equal to the oracle
    assert got[1] == got[7] == expect


def test_spark_global_sketch_no_groups(spark):
    df, pdf = _events_df(spark, n=2000)
    sk = kll_build(df, "v", (), k=4096)
    rows = _quantiles(sk, [0.5])
    s = np.sort(pdf.dropna()["v"].to_numpy())
    assert len(rows) == 1
    assert rows[0]["n"] == len(s)
    assert rows[0]["q_values"][0] == _disc_quantile(s, 0.5)


def test_spark_compacting_regime_bounded(spark):
    rng = np.random.default_rng(17)
    vals = rng.gamma(2.0, size=120000)
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(16)
    sk = kll_build(df, "v", (), k=256)
    row = _quantiles(sk, QS)[0]
    assert row["n"] == len(vals)
    s = np.sort(vals)
    bound = _error_bound(len(vals), 256)
    for q, est in zip(QS, row["q_values"]):
        assert _rank_error(s, q, est) <= bound, (q, est)


def test_spark_incremental_merge_equals_full_build_exact_regime(spark):
    """The snapshot-maintenance story: sketch(base) ⊕ sketch(delta) must equal
    sketch(base ∪ delta) bit-exactly while un-compacted (and stay within the
    error bound always — covered by the core merge test)."""
    df, pdf = _events_df(spark, n=4000)
    base = df.filter(F.col("v") < 10.0)
    delta = df.filter((F.col("v") >= 10.0) | F.isnan("v") | F.col("v").isNull())
    merged = kll_merge(
        kll_build(base, "v", ["g"], k=8192),
        kll_build(delta, "v", ["g"], k=8192),
        ["g"],
    )
    full = kll_build(df, "v", ["g"], k=8192)
    q_m = _quantiles(merged, QS, ["g"])
    q_f = _quantiles(full, QS, ["g"])
    as_map = lambda rows: {r["g"]: (r["n"], tuple(r["q_values"])) for r in rows}
    assert as_map(q_m) == as_map(q_f)


def test_drift_edges_from_persisted_sketch_incremental(spark, tmp_path):
    """The at-scale drift-baseline story end-to-end: persist the baseline's
    global KLL sketch in the catalog, derive equi-depth edges from sketch
    state (no baseline rescan), fold a new snapshot in with kll_merge, and
    verify (exact regime) the updated edges equal a from-scratch rebuild —
    and that the suite runner's equi-depth check, reading its edges from
    that sketch state, agrees with the distributed path on those edges."""
    from pyanomalydetector2_spark.constraints import run_suite
    from pyanomalydetector2_spark.constraints.dsl import DriftCheck, Suite
    from pyanomalydetector2_spark.operators.drift import (
        drift_scores_quantile_df,
        quantile_edges_from_sketch,
    )
    from pyanomalydetector2_spark.sources.catalog import SnapshotTable

    rng = np.random.default_rng(23)
    base_vals = rng.normal(50.0, 10.0, size=3000)
    delta_vals = rng.normal(80.0, 5.0, size=1000)
    base = spark.createDataFrame(pd.DataFrame({"v": base_vals}))
    delta = spark.createDataFrame(pd.DataFrame({"v": delta_vals}))

    tbl = SnapshotTable(str(tmp_path / "kll_state"))
    tbl.write_snapshot(kll_build(base, "v", (), k=8192))

    nbins = 10
    edges1 = quantile_edges_from_sketch(tbl.read(spark), nbins)
    s = np.sort(base_vals)
    expect1 = sorted({_disc_quantile(s, i / nbins) for i in range(1, nbins)})
    assert edges1 == expect1

    # fold the delta snapshot forward — KBs of sketch state, no rescan
    merged = kll_merge(tbl.read(spark), kll_build(delta, "v", (), k=8192))
    tbl.write_snapshot(merged)
    edges2 = quantile_edges_from_sketch(tbl.read(spark), nbins)
    full = np.sort(np.concatenate([base_vals, delta_vals]))
    expect2 = sorted({_disc_quantile(full, i / nbins) for i in range(1, nbins)})
    assert edges2 == expect2

    # the suite reads the same edges off the merged sketch state (as its
    # sketch_store), and the distributed path takes them precomputed: they
    # agree
    store = SnapshotTable(str(tmp_path / "store"))
    store.write_snapshot(tbl.read(spark).withColumn("column", F.lit("v")))
    cur = spark.createDataFrame(pd.DataFrame({"v": rng.normal(55.0, 12.0, 2000)}))
    allb = base.unionByName(delta)
    res = run_suite(
        cur.withColumn("g", F.lit(0)), allb, {},
        Suite(drift_checks=(DriftCheck("q", "v", 0, 0, nbins=nbins, equi_depth=True),)),
        "kll", bucket_col="g", sketch_store=store,
    )
    funnel = {r["metric"]: r["observed"] for r in res.verdicts.collect()}
    dist = drift_scores_quantile_df(cur, allb, "v", nbins, edges=edges2).collect()
    assert len(funnel) == 2 and len(dist) == 1
    assert funnel["psi"] == pytest.approx(dist[0]["psi"], abs=1e-9)
    assert funnel["ks"] == pytest.approx(dist[0]["ks"], abs=1e-9)


def test_edges_from_grouped_sketch_rejected(spark):
    df, _ = _events_df(spark, n=300)
    from pyanomalydetector2_spark.operators.drift import quantile_edges_from_sketch

    grouped = kll_build(df, "v", ["g"], k=256)
    with pytest.raises(ValueError, match="ONE global sketch row"):
        quantile_edges_from_sketch(grouped, 10)
    empty = kll_build(df.filter(F.lit(False)), "v", (), k=64)
    assert quantile_edges_from_sketch(empty, 10) == []


def test_spark_empty_input_yields_no_rows(spark):
    df, _ = _events_df(spark, n=50)
    empty = df.filter(F.lit(False))
    assert kll_build(empty, "v", ["g"], k=64).count() == 0
    assert kll_build(empty, "v", (), k=64).count() == 0


def test_parse_percentile_stat():
    from pyanomalydetector2_spark.constraints.dsl import parse_percentile_stat

    assert parse_percentile_stat("p95") == 0.95
    assert parse_percentile_stat("p0") == 0.0
    assert parse_percentile_stat("p100") == 1.0
    for bad in ("p101", "p-1", "p9.5", "pp5", "mean", "p", "95"):
        assert parse_percentile_stat(bad) is None


def test_spark_null_group_key_survives(spark):
    """A NULL group key must form its own sketch group (Spark groupBy
    semantics), not crash the Arrow int cast with pandas' NaN key."""
    pdf = pd.DataFrame(
        {"g": pd.array([1, 1, None, None, 2], dtype="Int64"),
         "v": [1.0, 3.0, 5.0, 7.0, 9.0]}
    )
    df = spark.createDataFrame(pdf)
    out = _quantiles(kll_build(df, "v", ["g"], k=64), [0.5], ["g"])
    got = {r["g"]: (r["n"], r["q_values"][0]) for r in out}
    assert got == {1: (2, 1.0), None: (2, 5.0), 2: (1, 9.0)}


def test_multi_column_build_equals_per_column(spark):
    """kll_build_multi: one Arrow pass for all columns must produce, per
    column, exactly the single-column build's sketches (exact regime) —
    including a column that is all-null in one group (no row emitted)."""
    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b"], size=400),
            "x": rng.normal(size=400),
            "y": rng.exponential(size=400),
        }
    )
    pdf.loc[pdf["g"] == "a", "y"] = np.nan  # y all-null in group a
    df = spark.createDataFrame(pdf).repartition(5)
    from pyanomalydetector2_spark.operators.kll import kll_build_multi

    multi = kll_build_multi(df, ["x", "y"], ["g"], k=2048)
    got = {
        (r["g"], r["column"]): (r["kll_n"], tuple(r["kll_levels"][0]))
        for r in multi.collect()
    }
    assert ("a", "y") not in got  # all-null (group, column) emits no row
    for c in ("x", "y"):
        single = kll_build(df, c, ["g"], k=2048).collect()
        for r in single:
            n, lvl0 = got[(r["g"], c)]
            assert n == r["kll_n"]
            assert sorted(lvl0) == sorted(r["kll_levels"][0])


def test_nan_float_group_key_joins_null_group(spark):
    """NaN in a FLOAT group column is normalized to NULL JVM-side (pandas
    cannot distinguish the two after the Arrow transfer): both populations
    merge into ONE NULL-keyed sketch, deterministically, instead of the
    merge silently depending on partition layout."""
    df = spark.createDataFrame(
        [(1.0, 10.0), (1.0, 30.0), (None, 5.0), (float("nan"), 7.0)],
        "g double, v double",
    )
    out = _quantiles(kll_build(df, "v", ["g"], k=64), [0.5], ["g"])
    got = {r["g"]: (r["n"], r["q_values"][0]) for r in out}
    assert got == {1.0: (2, 10.0), None: (2, 5.0)}
