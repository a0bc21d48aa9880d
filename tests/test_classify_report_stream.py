"""Classifier (two-level DBSCAN) and hypothesis property tests for the
moment algebra and the clip generator."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pyanomalydetector2_spark.operators.classify import (
    classify_charts,
    collect_charts,
)


def test_classify_charts_two_level():
    """Reference test_dbscan pattern: planted chart families cluster
    together, a lone outlier is noise."""
    rng = np.random.default_rng(3)
    t = np.arange(48, dtype=float)
    spike = np.zeros(48)
    spike[20:24] = 10.0
    charts = {}
    for i in range(4):  # family A: same spike shape + tiny noise
        charts[100 + i] = spike + rng.normal(0, 0.05, 48)
    ramp = np.linspace(0, 10, 48)
    for i in range(3):  # family B: ramps
        charts[200 + i] = ramp + rng.normal(0, 0.05, 48)
    charts[999] = rng.normal(0, 1, 48)  # noise item

    labels = classify_charts(charts, sigma=1.5)
    fam_a = {labels[100 + i] for i in range(4)}
    fam_b = {labels[200 + i] for i in range(3)}
    assert len(fam_a) == 1 and -1 not in fam_a
    assert len(fam_b) == 1 and -1 not in fam_b
    assert fam_a != fam_b
    assert labels[999] == -1


def test_collect_charts(spark):
    df = spark.createDataFrame(
        [(1, 30, 3.0), (1, 10, 1.0), (1, 20, 2.0), (2, 10, 9.0)],
        "itemid long, clock long, value double",
    )
    charts = collect_charts(df)
    np.testing.assert_array_equal(charts[1], [1.0, 2.0, 3.0])  # clock-ordered
    np.testing.assert_array_equal(charts[2], [9.0])


# ---------------------------------------------------------- property tests --
@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=40),
    st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=40),
)
def test_moment_merge_associative_commutative(xs, ys):
    """The (sum, sqr_sum, cnt) algebra merges associatively/commutatively —
    the property Catalyst's partial aggregation relies on."""

    def triple(v):
        a = np.array(v, dtype=np.float64)
        return (a.sum(), (a * a).sum(), len(a))

    def merge(p, q):
        return (p[0] + q[0], p[1] + q[1], p[2] + q[2])

    whole = triple(xs + ys)
    merged = merge(triple(xs), triple(ys))
    merged_rev = merge(triple(ys), triple(xs))
    assert merged[2] == whole[2] == merged_rev[2]
    np.testing.assert_allclose(merged[0], whole[0], rtol=1e-9, atol=1e-6)
    np.testing.assert_allclose(merged[0], merged_rev[0], rtol=1e-12)
    np.testing.assert_allclose(merged[1], whole[1], rtol=1e-9, atol=1e-6)


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 10_000), st.integers(2, 50))
def test_datagen_batch_split_invariance(start, width):
    """clips rows are a pure function of the id — any batch split yields
    identical rows (the resume/determinism guarantee)."""
    from pyanomalydetector2_spark.datagen.clips import _gen_batch

    ids = np.arange(start, start + width, dtype=np.int64)
    whole = _gen_batch(ids, True)
    cut = width // 2
    parts = pd.concat(
        [_gen_batch(ids[:cut], True), _gen_batch(ids[cut:], True)],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(
        whole.reset_index(drop=True), parts.reset_index(drop=True)
    )
