"""Unit tests: PSI/KS drift kernel vs a hand-rolled numpy oracle, and the
snapshot catalog (Iceberg-shaped semantics on parquet)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyanomalydetector2_spark.operators.drift import (
    EPS,
    HistSpec,
    drift_scores_multi,
)
from pyanomalydetector2_spark.sources.catalog import SnapshotTable


def _equi_depth_scores(spark, cur, base, nbins: int, group_col: str = "g"):
    """{group: {"psi": …, "ks": …}} of one equi-depth DriftCheck run by
    the suite runner, grouped by ``group_col`` (a constant group when the
    frame has none)."""
    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.constraints import run_suite
    from pyanomalydetector2_spark.constraints.dsl import DriftCheck, Suite

    if group_col not in cur.columns:
        cur = cur.withColumn(group_col, F.lit(0))
    suite = Suite(
        drift_checks=(DriftCheck("q", "x", 0, 0, nbins=nbins, equi_depth=True),)
    )
    out: dict = {}
    for r in run_suite(cur, base, {}, suite, "eq", bucket_col=group_col).verdicts.collect():
        out.setdefault(r["bucket"], {})[r["metric"]] = r["observed"]
    return out


def numpy_psi_ks(cur: np.ndarray, base: np.ndarray, lo, hi, nbins):
    edges = np.linspace(lo, hi, nbins + 1)
    # width_bucket semantics: bin 0 underflow, nbins+1 overflow
    cb = np.digitize(cur, edges, right=False)
    bb = np.digitize(base, edges, right=False)
    p = np.array([(cb == i).sum() for i in range(nbins + 2)]) / len(cur) + EPS
    q = np.array([(bb == i).sum() for i in range(nbins + 2)]) / len(base) + EPS
    psi = float(np.sum((p - q) * np.log(p / q)))
    ks = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))
    return psi, ks


def test_drift_matches_numpy_oracle(spark):
    rng = np.random.default_rng(11)
    base_v = rng.normal(100, 15, 4000)
    cur_v = rng.normal(115, 15, 3000)  # shifted
    cur = spark.createDataFrame(pd.DataFrame({"x": cur_v}))
    base = spark.createDataFrame(pd.DataFrame({"x": base_v}))
    row = drift_scores_multi(cur, base, [HistSpec("x", 50.0, 150.0, 20)])[0]
    psi, ks = numpy_psi_ks(cur_v, base_v, 50.0, 150.0, 20)
    assert row["psi"] == pytest.approx(psi, rel=1e-9)
    assert row["ks"] == pytest.approx(ks, rel=1e-9)
    assert row["cur_n"] == 3000 and row["base_n"] == 4000


def test_drift_identical_distributions_near_zero(spark):
    rng = np.random.default_rng(12)
    v = rng.normal(0, 1, 5000)
    df = spark.createDataFrame(pd.DataFrame({"x": v}))
    row = drift_scores_multi(df, df, [HistSpec("x", -4.0, 4.0, 20)])[0]
    assert row["psi"] == pytest.approx(0.0, abs=1e-12)
    assert row["ks"] == pytest.approx(0.0, abs=1e-12)


def test_drift_distributed_matches_funnel(spark):
    """drift_scores_df (fully distributed, no collect) must agree with the
    driver-funnel drift_scores_multi AND the numpy oracle on the same inputs —
    global and per-group."""
    from pyanomalydetector2_spark.operators.drift import drift_scores_df

    rng = np.random.default_rng(21)
    base_v = rng.normal(100, 15, 4000)
    cur_v = rng.normal(112, 18, 3000)
    cur = spark.createDataFrame(pd.DataFrame({"x": cur_v}))
    base = spark.createDataFrame(pd.DataFrame({"x": base_v}))

    got = drift_scores_df(cur, base, "x", 50.0, 150.0, nbins=20).first()
    psi, ks = numpy_psi_ks(cur_v, base_v, 50.0, 150.0, 20)
    assert got["psi"] == pytest.approx(psi, rel=1e-9)
    assert got["ks"] == pytest.approx(ks, rel=1e-9)
    assert got["cur_n"] == 3000 and got["base_n"] == 4000

    # per-group: same verdicts as the funnel path, row for row
    g = spark.createDataFrame(
        pd.DataFrame(
            {"g": np.repeat([0, 1], 1500), "x": np.concatenate([cur_v[:1500], cur_v[1500:]])}
        )
    )
    funnel = {
        s["group"]: s
        for s in drift_scores_multi(g, base, [HistSpec("x", 50.0, 150.0, 20)], "g")
    }
    dist = {
        r["g"]: r
        for r in drift_scores_df(g, base, "x", 50.0, 150.0, 20, "g").collect()
    }
    assert set(funnel) == set(dist)
    for k in funnel:
        assert dist[k]["psi"] == pytest.approx(funnel[k]["psi"], rel=1e-9)
        assert dist[k]["ks"] == pytest.approx(funnel[k]["ks"], rel=1e-9)
        assert dist[k]["cur_n"] == funnel[k]["cur_n"]


def test_quantile_drift_distributed_matches_funnel(spark):
    """drift_scores_quantile_df (no histogram collect) must agree with the
    suite runner's equi-depth verdicts row for row — same sketch edges,
    same PSI/KS — per group."""
    from pyanomalydetector2_spark.operators.drift import drift_scores_quantile_df

    rng = np.random.default_rng(31)
    base_v = rng.lognormal(3, 1, 5000)  # heavy tail: equi-depth territory
    cur_v = rng.lognormal(3.3, 1.1, 3000)
    base = spark.createDataFrame(pd.DataFrame({"x": base_v}))
    cur = spark.createDataFrame(
        pd.DataFrame({"g": np.repeat([0, 1], 1500), "x": cur_v})
    )

    funnel = _equi_depth_scores(spark, cur, base, 20)
    dist = {
        r["g"]: r
        for r in drift_scores_quantile_df(
            cur, base, "x", nbins=20, group_col="g"
        ).collect()
    }
    assert set(funnel) == set(dist)
    for k in funnel:
        assert dist[k]["psi"] == pytest.approx(funnel[k]["psi"], rel=1e-9)
        assert dist[k]["ks"] == pytest.approx(funnel[k]["ks"], rel=1e-9)
        assert dist[k]["cur_n"] == 1500
        assert dist[k]["base_n"] == 5000

    # guards preserved: empty baseline raises the explicit error
    from pyanomalydetector2_spark.operators.drift import drift_scores_quantile_df as dqdf

    empty = spark.createDataFrame(pd.DataFrame({"x": [None, None]}), "x double")
    with pytest.raises(ValueError, match="empty or all-null"):
        dqdf(cur, empty, "x", nbins=10)

    # the uniform-bin distributed variant enforces the same contract at the
    # API instead of NULL-propagating into vacuously-passing rows
    from pyanomalydetector2_spark.operators.drift import drift_scores_df

    with pytest.raises(ValueError, match="empty or all-null"):
        drift_scores_df(cur, empty, "x", 50.0, 150.0, nbins=10)


def test_drift_per_group(spark):
    rng = np.random.default_rng(13)
    base_v = rng.normal(0, 1, 4000)
    g0 = rng.normal(0, 1, 2000)  # no drift
    g1 = rng.normal(2, 1, 2000)  # drifted
    cur = spark.createDataFrame(
        pd.DataFrame({"g": [0] * 2000 + [1] * 2000, "x": np.concatenate([g0, g1])})
    )
    base = spark.createDataFrame(pd.DataFrame({"x": base_v}))
    rows = {
        s["group"]: s
        for s in drift_scores_multi(cur, base, [HistSpec("x", -5.0, 5.0, 20)], "g")
    }
    assert rows[0]["psi"] < 0.05 and rows[1]["psi"] > 0.5
    p0, k0 = numpy_psi_ks(g0, base_v, -5.0, 5.0, 20)
    assert rows[0]["psi"] == pytest.approx(p0, rel=1e-9)
    assert rows[0]["ks"] == pytest.approx(k0, rel=1e-9)


def test_open_table_probe_reports_backend(spark, tmp_path):
    """The catalog seam probes the session for an Iceberg runtime and
    reports which backend a run actually used. This sandbox ships no
    Iceberg jar, so the probe must come back False and open_table must
    hand out the parquet SnapshotTable; on a cluster with the jar +
    catalog configured the SAME call returns IcebergTable."""
    from pyanomalydetector2_spark.sources.catalog import (
        iceberg_available,
        iceberg_catalog,
        open_table,
    )

    assert iceberg_available(spark) is False
    assert iceberg_catalog(spark) is None
    t = open_table(spark, str(tmp_path / "probe"))
    assert t.backend == "parquet"
    t.write_snapshot(spark.createDataFrame([(1,)], "id int"))
    assert t.read(spark).count() == 1


def test_empty_snapshot_stays_readable(spark, tmp_path):
    """A zero-row snapshot (a clean run's violations table) must remain
    readable and merge-able: AQE can plan an empty write to ZERO part files,
    leaving a dir whose next read fails UNABLE_TO_INFER_SCHEMA — caught live
    by the drift-only suite CLI (no violations on run 1, crash on run 2's
    results merge_upsert). write_snapshot now guarantees one schema-carrying
    part file; partitioned non-empty writes are untouched."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.write_snapshot(spark.createDataFrame([], "a int, b string"))
    assert t.read(spark).count() == 0
    t.merge_upsert(spark.createDataFrame([(1, "x")], "a int, b string"), ["a"])
    assert t.read(spark).collect() == [(1, "x")]

    # empty PARTITIONED write: same guarantee
    t2 = SnapshotTable(str(tmp_path / "t2"))
    t2.write_snapshot(
        spark.createDataFrame([], "a int, bucket int"), partition_by=["bucket"]
    )
    assert t2.read(spark).count() == 0

    # non-empty partitioned write unaffected (the recursive part-file check
    # must find files under bucket=N/ subdirs and NOT rewrite)
    t3 = SnapshotTable(str(tmp_path / "t3"))
    t3.write_snapshot(
        spark.createDataFrame([(1, 0), (2, 1)], "a int, bucket int"),
        partition_by=["bucket"],
    )
    assert t3.read(spark).count() == 2


def test_snapshot_catalog_roundtrip(spark, tmp_path):
    """The full snapshot lifecycle against whatever backend open_table
    offers (parquet here; same assertions hold for Iceberg)."""
    from pyanomalydetector2_spark.sources.catalog import open_table

    t = open_table(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    s1 = t.write_snapshot(df1)
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    s2 = t.merge_upsert(df2, ["id"])
    assert t.snapshots() == [s1, s2]

    # time travel: snapshot 1 unchanged; current has upserted rows
    old = {r["id"]: r["v"] for r in t.read(spark, s1).collect()}
    new = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert old == {1: "a", 2: "b"}
    assert new == {1: "a", 2: "B", 3: "c"}

    # row-level delete (retention, reference S18)
    t.delete_where("id = 1")
    assert {r["id"] for r in t.read(spark).collect()} == {2, 3}

    # snapshot expiry keeps the newest
    dropped = t.expire_snapshots(keep_last=1)
    assert s1 in dropped
    assert {r["id"] for r in t.read(spark).collect()} == {2, 3}


def test_catalog_partitioned_write_prunes(spark, tmp_path):
    import os

    t = SnapshotTable(str(tmp_path / "p"))
    df = spark.range(0, 100).selectExpr("id", "cast(id % 4 as int) as bucket")
    t.write_snapshot(df, partition_by=["bucket"])
    snap_dir = t._snap_dir(t.current_snapshot())
    assert sorted(
        d for d in os.listdir(snap_dir) if d.startswith("bucket=")
    ) == ["bucket=0", "bucket=1", "bucket=2", "bucket=3"]
    # bucket filter prunes to one partition dir at the file-source level
    plan = t.read(spark).filter("bucket = 2")._jdf.queryExecution().executedPlan().toString()
    assert t.read(spark).filter("bucket = 2").count() == 25


def test_quantile_edge_drift(spark):
    """Equi-depth drift: identical distributions score ~0; a shifted one
    fires; bins match a numpy equi-depth oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pyanomalydetector2_spark.operators.drift import (
        _finite,
        edges_bin_expr,
        quantile_edges,
    )

    rng = np.random.default_rng(17)
    base_v = np.concatenate([rng.normal(10, 2, 4000), rng.normal(100, 5, 400)])
    cur_same = rng.permutation(base_v)[:3000]
    cur_shift = cur_same * 1.5
    base = spark.createDataFrame(pd.DataFrame({"x": base_v}))
    same = spark.createDataFrame(pd.DataFrame({"x": cur_same}))
    shift = spark.createDataFrame(pd.DataFrame({"x": cur_shift}))

    edges = quantile_edges(base, "x", nbins=10)
    assert edges == sorted(edges) and 3 <= len(edges) <= 9 + 1

    # bin counts vs numpy digitize on the same edges
    got = {
        int(r["bin"]): r["n"]
        for r in base.filter(_finite("x"))
        .groupBy(edges_bin_expr("x", edges).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    dig = np.digitize(base_v, np.array(edges), right=True)
    for b in range(len(edges) + 1):
        assert got.get(b, 0) == int((dig == b).sum())

    s_same = _equi_depth_scores(spark, same, base, 10)[0]
    s_shift = _equi_depth_scores(spark, shift, base, 10)[0]
    assert s_same["psi"] < 0.02 and s_same["ks"] < 0.03
    assert s_shift["psi"] > 0.3 and s_shift["ks"] > 0.2


def test_quantile_drift_guards(spark):
    """ADVICE r01: in the suite runner's equi-depth check, an
    empty/all-null baseline raises an explicit error; a near-constant
    baseline degrades the bins and warns."""
    import warnings

    import pandas as pd
    import pytest

    cur = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0, 3.0]}))
    empty = spark.createDataFrame(
        pd.DataFrame({"x": pd.array([None, None], dtype="Float64")})
    )
    with pytest.raises(ValueError, match="empty or all-null"):
        _equi_depth_scores(spark, cur, empty, 10)

    const = spark.createDataFrame(pd.DataFrame({"x": [5.0] * 100}))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        scores = _equi_depth_scores(spark, cur, const, 10)
    assert any("near-constant" in str(x.message) for x in w)
    assert scores[0]  # still produces a (degraded) score rather than crashing


def test_categorical_drift_semantics(spark):
    """Frequency-PSI + linf over category counts: identical distributions
    score ~0; a planted new category / share shift is detected; a vanished
    category drifts against q = ε; empty baseline raises."""
    import numpy as np
    import pandas as pd
    import pytest

    from pyanomalydetector2_spark.operators.drift import (
        EPS,
        drift_scores_categorical_df,
    )

    base = spark.createDataFrame(
        pd.DataFrame({"codec": ["flac"] * 50 + ["wav"] * 30 + ["opus"] * 20})
    )
    # identical → psi ≈ 0 (ε smoothing keeps it tiny but nonzero)
    same = drift_scores_categorical_df(base, base, "codec").first()
    assert same["psi"] < 1e-9 and same["linf"] < 1e-12
    assert same["cur_n"] == 100 and same["base_n"] == 100

    # planted new category (5 %) + share shift
    cur = spark.createDataFrame(
        pd.DataFrame(
            {"codec": ["flac"] * 45 + ["wav"] * 30 + ["opus"] * 20
             + ["amr_nb"] * 5}
        )
    )
    r = drift_scores_categorical_df(cur, base, "codec").first()
    # numpy replay of the same algebra, in category order
    cats = sorted(["flac", "wav", "opus", "amr_nb"])
    cur_c = {"flac": 45, "wav": 30, "opus": 20, "amr_nb": 5}
    base_c = {"flac": 50, "wav": 30, "opus": 20, "amr_nb": 0}
    p = np.array([cur_c[c] / 100 + EPS for c in cats])
    q = np.array([base_c[c] / 100 + EPS for c in cats])
    assert r["psi"] == pytest.approx(float(np.sum((p - q) * np.log(p / q))), rel=1e-12)
    assert r["linf"] == pytest.approx(float(np.max(np.abs(p - q))), rel=1e-12)
    assert r["psi"] > 0.05  # the new-category term dominates

    # vanished category: current has no opus
    gone = spark.createDataFrame(
        pd.DataFrame({"codec": ["flac"] * 60 + ["wav"] * 40})
    )
    r2 = drift_scores_categorical_df(gone, base, "codec").first()
    assert r2["psi"] > 0.05 and r2["linf"] >= 0.2 - 1e-9

    # NULL categories excluded, not counted
    with_null = spark.createDataFrame(
        pd.DataFrame({"codec": ["flac"] * 50 + ["wav"] * 30 + ["opus"] * 20
                      + [None] * 10})
    )
    r3 = drift_scores_categorical_df(with_null, base, "codec").first()
    assert r3["cur_n"] == 100 and r3["psi"] < 1e-9

    # empty/all-null baseline → explicit contract error
    empty = spark.createDataFrame(
        pd.DataFrame({"codec": pd.array([None, None], dtype="string")})
    )
    with pytest.raises(ValueError, match="empty or all-null"):
        drift_scores_categorical_df(base, empty, "codec")


def test_categorical_drift_per_group(spark):
    """group_col mode: per-group scores against the one global baseline."""
    import pandas as pd

    from pyanomalydetector2_spark.operators.drift import (
        drift_scores_categorical_df,
    )

    base = spark.createDataFrame(
        pd.DataFrame({"g": [0] * 100, "codec": ["flac"] * 50 + ["wav"] * 50})
    )
    cur = spark.createDataFrame(
        pd.DataFrame(
            {
                "g": [1] * 100 + [2] * 100,
                "codec": (["flac"] * 50 + ["wav"] * 50)  # g=1: identical
                + (["flac"] * 95 + ["wav"] * 5),  # g=2: shifted
            }
        )
    )
    rows = {r["g"]: r for r in
            drift_scores_categorical_df(cur, base, "codec", group_col="g").collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["psi"] < 1e-9
    assert rows[2]["psi"] > 0.5 and rows[2]["linf"] > 0.4
