"""Constraint suggestion (constraints/suggest.py).

These tests pin the operator's semantics on hand-planted frames — the
kind truth table, prefilter == exact mode equality, and the Deequ
round-trip promise: the suggested suite is green on the snapshot that
produced it and catches a perturbed snapshot.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyanomalydetector2_spark.constraints.suggest import (
    suggest_constraints,
    suite_from_suggestions,
)
from pyanomalydetector2_spark.constraints.suite import run_suite

SCHEMA = (
    "clip_id long, bucket int, ukey long, nully string, val double, "
    "cat string, neg long"
)


def _frame(spark, perturbed: bool = False):
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                i % 4,
                1_000 + i,                       # unique, no nulls
                None if i % 5 == 0 else "x",     # has nulls
                float(10 + (i % 7)),             # range [10, 16], ≥ 0
                "abc" if i % 3 else "de'f",      # 2-value domain (quote!)
                i - 20,                          # range crosses zero
            )
        )
    if perturbed:
        rows.append((40, 0, 1_000, None, 99.5, "NEW", -100))
    return spark.createDataFrame(rows, SCHEMA)


def _kinds(sugg):
    return {(r["column"], r["kind"]) for r in sugg.collect()}


def test_suggestion_kind_truth_table(spark):
    df = _frame(spark)
    cols = ["ukey", "nully", "val", "cat", "neg"]
    sugg = suggest_constraints(df, cols, max_domain=5)
    got = _kinds(sugg)
    assert got == {
        ("ukey", "not_null"),
        ("ukey", "unique"),
        ("ukey", "range"),
        ("ukey", "non_negative"),
        # nully: nulls present → nothing suggested (string, 1 distinct
        # value but null_cnt > 0 kills not_null; domain still applies)
        ("nully", "domain"),
        ("val", "not_null"),
        ("val", "range"),
        ("val", "non_negative"),
        ("cat", "not_null"),
        ("cat", "domain"),
        ("neg", "not_null"),
        ("neg", "unique"),  # i - 20 over distinct i: genuinely unique
        ("neg", "range"),  # min < 0 → no non_negative
    }
    by_kind = {(r["column"], r["kind"]): r for r in sugg.collect()}
    assert by_kind[("val", "range")]["lo"] == 10.0
    assert by_kind[("val", "range")]["hi"] == 16.0
    assert by_kind[("neg", "range")]["lo"] == -20.0
    assert by_kind[("cat", "domain")]["domain"] == "abc|de'f"
    assert by_kind[("nully", "domain")]["domain"] == "x"


def test_prefilter_mode_emits_identical_set(spark):
    df = _frame(spark)
    cols = ["ukey", "nully", "val", "cat", "neg"]
    exact = suggest_constraints(df, cols, max_domain=5)
    pre = suggest_constraints(df, cols, max_domain=5, distinct_mode="prefilter")
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, pre.collect())
    )


def test_suggested_suite_round_trip(spark):
    df = _frame(spark)
    cols = ["ukey", "val", "cat", "neg"]
    suite = suite_from_suggestions(suggest_constraints(df, cols, max_domain=5))
    ids = set(suite.all_ids())
    assert "ukey_unique" in ids and "cat_domain" in ids
    # green on the profiled snapshot — the Deequ promise
    res = run_suite(df, df, {}, suite, "sugg_self", key_col="clip_id")
    assert res.violations.count() == 0
    assert res.verdicts.filter(~F.col("passed")).count() == 0

    # a perturbed snapshot breaks exactly the planted constraints
    bad = _frame(spark, perturbed=True)
    res2 = run_suite(bad, bad, {}, suite, "sugg_bad", key_col="clip_id")
    broken = {
        r["constraint_id"]
        for r in res2.verdicts.filter(~F.col("passed")).collect()
    } | {
        r["constraint_id"] for r in res2.violations.collect()
    }
    # ukey 1000 duplicated; val 99.5 > 16; cat 'NEW' outside the domain;
    # neg -100 under the observed min
    assert {"ukey_unique", "val_max", "cat_domain", "neg_min"} <= broken


def test_domain_values_sql_quote_safe(spark):
    """A domain value containing a single quote must survive the
    RowCheck's IN-list round trip (suite predicate is SQL text)."""
    df = _frame(spark)
    suite = suite_from_suggestions(
        suggest_constraints(df, ["cat"], max_domain=5)
    )
    pred = [c for c in suite.row_checks if c.constraint_id == "cat_domain"][
        0
    ].predicate
    n = df.filter(F.expr(pred)).count()
    assert n == df.count()


def test_suite_yaml_round_trip_every_kind(tmp_path):
    """suite_from_dict(suite_to_dict(s)) == s for EVERY check kind —
    the serializer run_suite --suggest-out persists suites with (frozen
    dataclasses compare by value, so equality is total)."""
    from pyanomalydetector2_spark.constraints.config import (
        load_suite,
        save_suite,
        suite_from_dict,
        suite_to_dict,
    )
    from pyanomalydetector2_spark.constraints.dsl import (
        DriftCheck,
        FdCheck,
        ReconcileCheck,
        RefCheck,
        RowCheck,
        StatCheck,
        Suite,
        UniqueCheck,
    )

    s = Suite(
        row_checks=(
            RowCheck("r1", "a > 0", "cast(a AS STRING)", "positive"),
            RowCheck("r2", "b IS NOT NULL", "NULL", "b", requires_audio=True),
        ),
        stat_checks=(StatCheck("s1", "a", "min", ">=", 0.0),),
        unique_checks=(UniqueCheck("u1", "clip_id"),),
        ref_checks=(RefCheck("f1", "codec", "dim_codec"),),
        drift_checks=(
            DriftCheck("d1", "dur_ms", 0.0, 5000.0, nbins=10),
            DriftCheck("d2", "codec", 0.0, 0.0, categorical=True),
        ),
        fd_checks=(FdCheck("fd1", ("brand",), "mfgr"),),
        reconcile_checks=(
            ReconcileCheck("rc1", ("codec", "sr_hz"), max_added_rate=0.5),
        ),
    )
    assert suite_from_dict(suite_to_dict(s)) == s
    p = str(tmp_path / "suite.yml")
    save_suite(s, p)
    assert load_suite(p) == s


def test_suggest_cli_writes_loadable_green_suite(spark, tmp_path):
    """The --suggest-out CLI path end-to-end in-process: suggest on the
    planted clips table (prefilter mode, the CLI default), persist YAML,
    load it back, and the loaded suite is green on the same snapshot."""
    from pyanomalydetector2_spark.constraints.config import (
        load_suite,
        save_suite,
    )
    from pyanomalydetector2_spark.constraints.suggest import (
        suggest_constraints,
        suite_from_suggestions,
    )
    from pyanomalydetector2_spark.datagen.clips import clips_table

    cur = clips_table(spark, 3000, planted=True, n_buckets=8)
    sugg = suggest_constraints(
        cur,
        ["clip_id", "codec", "sr_hz", "dur_ms"],
        distinct_mode="prefilter",
    )
    suite = suite_from_suggestions(sugg)
    # the datagen plants duplicate clip_ids: uniqueness must NOT be
    # suggested on the very table that violates it
    assert "clip_id_unique" not in set(suite.all_ids())
    p = str(tmp_path / "suggested.yml")
    save_suite(suite, p)
    loaded = load_suite(p)
    assert loaded == suite
    res = run_suite(cur, cur, {}, loaded, "sugg_cli", key_col="clip_id")
    assert res.violations.count() == 0
    assert res.verdicts.filter(~F.col("passed")).count() == 0


def test_domain_with_separator_value_is_dropped_not_corrupted(spark):
    """A value containing the '|' join separator cannot round-trip through
    the domain string — the suggestion must be DROPPED, not silently
    corrupted into a wrong IN-list."""
    df = spark.createDataFrame(
        [(i, "a|b" if i % 2 else "c") for i in range(10)],
        "clip_id long, weird string",
    )
    sugg = suggest_constraints(df, ["weird"], max_domain=5)
    kinds = _kinds(sugg)
    assert ("weird", "not_null") in kinds
    assert ("weird", "domain") not in kinds
