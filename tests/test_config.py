"""YAML suite config loader (re-expression of utils/config_loader.py +
samples/zabbix.yml): the shipped configs/clips_suite.yml must reproduce
default_clips_suite() EXACTLY (frozen-dataclass equality ⇒ identical
verdicts by construction), interpolation honors context > env > default,
defaults-merge follows the reference's top-level update semantics."""

from __future__ import annotations

import os

import pytest

from pyanomalydetector2_spark.constraints import default_clips_suite, load_suite
from pyanomalydetector2_spark.constraints.config import (
    interpolate,
    load_config,
    suite_from_dict,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUITE_YML = os.path.join(REPO, "configs", "clips_suite.yml")


def test_shipped_yaml_reproduces_default_suite():
    assert load_suite(SUITE_YML) == default_clips_suite()


def test_env_interpolation_overrides_threshold(monkeypatch):
    monkeypatch.setenv("SNR_MIN_DB", "35.0")
    s = load_suite(SUITE_YML)
    snr = next(c for c in s.row_checks if c.constraint_id == "pcm_snr_30db")
    assert "snr >= 35.0" in snr.predicate
    assert s != default_clips_suite()


def test_interpolate_precedence_and_missing():
    os.environ["_CFG_TEST_VAR"] = "from_env"
    try:
        assert interpolate("${_CFG_TEST_VAR}") == "from_env"
        assert interpolate("${_CFG_TEST_VAR}", {"_CFG_TEST_VAR": "ctx"}) == "ctx"
        assert interpolate("${_CFG_MISSING:-dflt}") == "dflt"
        with pytest.raises(ValueError, match="_CFG_MISSING"):
            interpolate("${_CFG_MISSING}")
    finally:
        del os.environ["_CFG_TEST_VAR"]


def test_defaults_merge(tmp_path):
    (tmp_path / "default.yml").write_text(
        "detection:\n  lambda1: 3.0\n  lambda2: 2.0\nsource: a\n"
    )
    (tmp_path / "override.yml").write_text(
        "detection:\n  lambda1: 4.0\nextra: 1\n"
    )
    conf = load_config(
        str(tmp_path / "override.yml"), str(tmp_path / "default.yml")
    )
    # dict values update into defaults; scalars override; new keys add
    assert conf["detection"] == {"lambda1": 4.0, "lambda2": 2.0}
    assert conf["source"] == "a" and conf["extra"] == 1


def test_duplicate_ids_rejected():
    with pytest.raises(ValueError, match="duplicate"):
        suite_from_dict(
            {
                "unique_checks": [{"id": "x", "column": "a"}],
                "ref_checks": [{"id": "x", "column": "b", "dim": "d"}],
            }
        )


def test_unknown_suite_keys_rejected():
    """A misspelled family or field key raises instead of loading a suite
    whose verdicts mean something else: an unknown family would drop its
    checks (an empty suite passes vacuously), an unknown field would keep
    the default threshold."""
    drift = {"id": "d", "column": "dur_ms", "lo": 0.0, "hi": 1.0}
    with pytest.raises(ValueError, match="drift_check"):
        suite_from_dict({"drift_check": [drift], "uniqe_checks": []})
    with pytest.raises(ValueError, match="psi_mx"):
        suite_from_dict({"drift_checks": [{**drift, "psi_mx": 0.01}]})
    with pytest.raises(ValueError, match="ann_checks.*removed"):
        suite_from_dict({"ann_checks": [{"id": "a", "dims": 64}]})
    # the documented aliases still load
    s = suite_from_dict(
        {
            "ref_checks": [{"id": "r", "column": "codec", "dim": "dim_codec"}],
            "drift_checks": [{**drift, "psi_max": 0.01}],
        }
    )
    assert s.ref_checks[0].dim_name == "dim_codec"
    assert s.drift_checks[0].psi_max == 0.01


def test_empty_family_key_loads_as_empty_family():
    """``row_checks:`` on a line of its own loads as None: an empty
    family, not a TypeError from the key check."""
    import yaml

    s = suite_from_dict(
        yaml.safe_load(
            "row_checks:\nunique_checks:\n  - {id: u, column: clip_id}\n"
        )
    )
    assert s.row_checks == ()
    assert [c.constraint_id for c in s.unique_checks] == ["u"]
    with pytest.raises(ValueError, match="uniqe_checks"):
        suite_from_dict(yaml.safe_load("uniqe_checks:\n"))


def test_yaml_suite_runs_end_to_end(spark, tmp_path):
    """The YAML-loaded suite produces identical verdicts to the built-in
    suite on the same planted clips table (reference pattern: config-driven
    run equals code-driven run)."""
    from pyanomalydetector2_spark.constraints import run_suite
    from pyanomalydetector2_spark.datagen.clips import clips_table, dim_codec, dim_sr

    cur = clips_table(spark, 1500, planted=True, n_buckets=4).cache()
    base = clips_table(spark, 1500, planted=False, n_buckets=4)
    dims = {"dim_codec": dim_codec(spark), "dim_sr": dim_sr(spark)}

    res_yaml = run_suite(cur, base, dims, load_suite(SUITE_YML), "run-yaml")
    res_code = run_suite(cur, base, dims, default_clips_suite(), "run-code")

    def key(df):
        return sorted(
            (r["bucket"], r["constraint_id"], r["metric"], r["observed"], r["passed"])
            for r in df.collect()
        )

    assert key(res_yaml.verdicts) == key(res_code.verdicts)
    assert res_yaml.violations.count() == res_code.violations.count()


def test_master_resolution_env_override(monkeypatch):
    """PYAD2_MASTER reroutes every entry point onto a multi-executor
    master (e.g. local-cluster) without touching callers."""
    from pyanomalydetector2_spark.session import _resolve_master

    monkeypatch.delenv("PYAD2_MASTER", raising=False)
    assert _resolve_master(4) == "local[4]"
    assert _resolve_master(0) == "local[*]"
    monkeypatch.setenv("PYAD2_MASTER", "local-cluster[4,1,3072]")
    assert _resolve_master(4) == "local-cluster[4,1,3072]"
    assert _resolve_master(0) == "local-cluster[4,1,3072]"


def test_drop_checks_preserves_every_group():
    """drop_checks must rebuild over ALL seven Suite groups — a positional
    rebuild once silently zeroed fd_checks/reconcile_checks (r05 review)."""
    from pyanomalydetector2_spark.constraints.dsl import (
        FdCheck,
        ReconcileCheck,
        Suite,
        drop_checks,
    )

    base = default_clips_suite()
    suite = Suite(
        row_checks=base.row_checks,
        stat_checks=base.stat_checks,
        unique_checks=base.unique_checks,
        ref_checks=base.ref_checks,
        drift_checks=base.drift_checks,
        fd_checks=(FdCheck("fd1", ("codec",), "container"),),
        reconcile_checks=(ReconcileCheck("rc1", ("codec",)),),
    )
    victim = suite.row_checks[0].constraint_id
    out = drop_checks(suite, {victim})
    assert victim not in out.all_ids()
    # every OTHER id — including the fd/reconcile groups — survives
    assert set(out.all_ids()) == set(suite.all_ids()) - {victim}
    assert out.fd_checks == suite.fd_checks
    assert out.reconcile_checks == suite.reconcile_checks
    with pytest.raises(ValueError, match="unknown ids"):
        drop_checks(suite, {"no_such_check"})
