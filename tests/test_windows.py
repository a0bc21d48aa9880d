"""Window kernels (SURVEY §2.5) vs pandas oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyanomalydetector2_spark.operators.windows import (
    adjacent_diff,
    first_row_per_group,
    fit_to_base_clocks,
    groups_with_min_size,
    local_peak,
    minmax_normalize,
    top_n_per_group,
)


@pytest.fixture(scope="module")
def ts_df(spark):
    rng = np.random.default_rng(7)
    rows = []
    for item in range(1, 6):
        clocks = np.sort(rng.choice(np.arange(1000, 5000), 200, replace=False))
        vals = rng.normal(item * 10, 2, 200).round(3)
        rows += [(item, int(c), float(v)) for c, v in zip(clocks, vals)]
    pdf = pd.DataFrame(rows, columns=["itemid", "clock", "value"])
    return spark.createDataFrame(pdf), pdf


def test_adjacent_diff(ts_df):
    df, pdf = ts_df
    got = (
        adjacent_diff(df, drop_zeros=False)
        .toPandas()
        .sort_values(["itemid", "clock"])
        .reset_index(drop=True)
    )
    exp = pdf.sort_values(["itemid", "clock"]).copy()
    exp["diff"] = exp.groupby("itemid")["value"].diff().fillna(0.0)
    np.testing.assert_allclose(got["diff"], exp["diff"].values, rtol=1e-9)


def test_local_peak(ts_df):
    df, pdf = ts_df
    got = local_peak(df, 500).toPandas().set_index("itemid").sort_index()
    s = pdf.sort_values(["itemid", "clock"])
    for item, g in s.groupby("itemid"):
        # INCLUSIVE left bound: rangeBetween(-w, 0) covers [c-w, c], as
        # SQL's RANGE w PRECEDING does
        means = [
            g[(g.clock >= c - 500) & (g.clock <= c)]["value"].mean()
            for c in g.clock
        ]
        assert got.loc[item, "peak_up"] == pytest.approx(max(means))
        assert got.loc[item, "peak_dn"] == pytest.approx(min(means))


def test_minmax_normalize(ts_df):
    df, pdf = ts_df
    got = (
        minmax_normalize(df)
        .toPandas()
        .sort_values(["itemid", "clock"])
        .reset_index(drop=True)
    )
    g = pdf.sort_values(["itemid", "clock"]).groupby("itemid")["value"]
    exp = ((g.transform(lambda s: (s - s.min()) / (s.max() - s.min()))).fillna(0.0))
    np.testing.assert_allclose(got["norm"], exp.values, rtol=1e-9)


def test_fit_to_base_clocks(spark):
    """Pin regularization semantics: bucket-average, forward-fill gaps,
    back-fill leading nulls (reference tests/test_normalizer.py:14-27
    analog, redefined cleanly per SURVEY §7 risk note)."""
    df = spark.createDataFrame(
        [(1, 105, 10.0), (1, 118, 20.0), (1, 161, 30.0), (2, 251, 7.0)],
        "itemid int, clock long, value double",
    )
    out = (
        fit_to_base_clocks(df, 100, 300, 20)
        .toPandas()
        .sort_values(["itemid", "clock"])
    )
    one = out[out.itemid == 1].set_index("clock")["value"]
    # grid: 100..280; samples 105,118 → bucket 120 avg 15.0; 161 → bucket 180
    assert one.loc[120] == pytest.approx(15.0)
    assert one.loc[180] == pytest.approx(30.0)
    assert one.loc[140] == pytest.approx(15.0)  # forward fill
    assert one.loc[160] == pytest.approx(15.0)
    assert one.loc[100] == pytest.approx(15.0)  # leading back-fill
    assert one.loc[280] == pytest.approx(30.0)  # trailing carry
    assert len(one) == 10
    two = out[out.itemid == 2].set_index("clock")["value"]
    assert (two == 7.0).all()  # single sample carries everywhere


def test_top_n_and_first_and_min_size(spark):
    df = spark.createDataFrame(
        [
            ("h1", 1, 50.0),
            ("h1", 2, 30.0),
            ("h1", 3, 40.0),
            ("h2", 4, 10.0),
            ("h2", 5, 20.0),
            ("h3", 6, 5.0),
        ],
        "hostid string, itemid int, item_count double",
    )
    top = top_n_per_group(df, ["hostid"], "item_count", 2, tiebreak=["itemid"]).toPandas()
    got = set(map(tuple, top[["hostid", "itemid"]].values))
    assert got == {("h1", 1), ("h1", 3), ("h2", 5), ("h2", 4), ("h3", 6)}

    first = first_row_per_group(df, ["hostid"], "itemid").toPandas()
    assert set(first["itemid"]) == {1, 4, 6}

    big = groups_with_min_size(df, "hostid", 3).toPandas()
    assert set(big["hostid"]) == {"h1"}


def test_fit_to_base_clocks_property(spark):
    """Property: output is always a complete (key × grid) frame; grid points
    at-or-after a sample carry the latest bucket average; values come only
    from the input's value set closure (averages of bucket members)."""
    import numpy as np

    rng = np.random.default_rng(21)
    rows = []
    for item in (1, 2, 3):
        n = int(rng.integers(1, 30))
        clocks = np.sort(rng.choice(np.arange(95, 310), n, replace=False))
        for c in clocks:
            rows.append((item, int(c), float(rng.normal(0, 5))))
    df = spark.createDataFrame(rows, "itemid int, clock long, value double")
    out = fit_to_base_clocks(df, 100, 300, 20).toPandas()
    grid = list(range(100, 300, 20))
    for item in (1, 2, 3):
        sub = out[out.itemid == item].sort_values("clock")
        assert list(sub.clock) == grid  # complete grid per key
        assert sub.value.notna().all()
