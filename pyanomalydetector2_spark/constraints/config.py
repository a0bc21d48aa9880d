"""YAML-driven suite configuration — the re-expression of the reference's
config layer (utils/config_loader.py:15-78 + samples/zabbix.yml:26-81):

- defaults file + override file, shallow dict-merge per top-level key
  (config_loader.py:20-28);
- environment/secret interpolation: the reference renders the whole config
  through Jinja2 with os.environ + a secrets file as context
  (config_loader.py:32-49); here the same capability is ``${NAME}`` /
  ``${NAME:-default}`` substitution over os.environ + an optional extra
  context dict — no template engine needed for the surface actually used
  (the sample configs only substitute scalar variables);
- the ``suite:`` section compiles to the constraint DSL (every check
  kind; an unknown family or field key is an error), the analog of
  item_conds/item_diff_conds compiling to _evaluate_cond thresholds
  (detector.py:169-185).

A user porting samples/zabbix.yml writes the same {filter → predicate,
condition: {operator, value} → op/threshold} shapes against the clips table.
"""

from __future__ import annotations

import dataclasses
import os
import re

import yaml

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

_VAR = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)(?::-([^}]*))?\}")


def interpolate(text: str, context: dict | None = None) -> str:
    """``${NAME}`` / ``${NAME:-default}`` substitution from context ∪
    os.environ (context wins, mirroring the reference's additional_context
    overriding env at config_loader.py:43-47). Unset without default →
    ValueError (the reference's Jinja2 silently renders empty — a config
    hole we refuse to swallow)."""
    ctx = dict(os.environ)
    ctx.update(context or {})

    def sub(m: re.Match) -> str:
        name, default = m.group(1), m.group(2)
        if name in ctx:
            return str(ctx[name])
        if default is not None:
            return default
        raise ValueError(f"config variable ${{{name}}} is not set")

    return _VAR.sub(sub, text)


def load_config(
    path: str,
    defaults_path: str | None = None,
    context: dict | None = None,
) -> dict:
    """Load YAML with defaults-merge + interpolation (config_loader.py
    semantics: override top-level keys, dict values update into defaults)."""
    conf: dict = {}
    if defaults_path:
        with open(defaults_path) as f:
            conf = yaml.safe_load(interpolate(f.read(), context)) or {}
    with open(path) as f:
        override = yaml.safe_load(interpolate(f.read(), context)) or {}
    for key, value in override.items():
        if isinstance(value, dict) and isinstance(conf.get(key), dict):
            conf[key].update(value)
        else:
            conf[key] = value
    return conf


_FAMILIES = {
    "row_checks": RowCheck,
    "stat_checks": StatCheck,
    "unique_checks": UniqueCheck,
    "ref_checks": RefCheck,
    "drift_checks": DriftCheck,
    "fd_checks": FdCheck,
    "reconcile_checks": ReconcileCheck,
}
# YAML alias → DSL field name
_ALIASES = {"id": "constraint_id", "dim": "dim_name"}


def _reject_unknown_keys(spec: dict) -> None:
    """A misspelled key must not change what a verdict means: an unknown
    family would drop its checks (a suite with none passes vacuously) and
    an unknown field would leave its default threshold in place."""
    if "ann_checks" in spec:
        raise ValueError(
            "suite config: 'ann_checks' was removed (the ANN recall audit "
            "is no longer a check kind)"
        )
    unknown = sorted(set(spec) - set(_FAMILIES))
    if unknown:
        raise ValueError(f"suite config: unknown check families {unknown}")
    for family, cls in _FAMILIES.items():
        names = {f.name for f in dataclasses.fields(cls)}
        names |= {a for a, n in _ALIASES.items() if n in names}
        for d in spec.get(family, []):
            bad = sorted(set(d) - names)
            if bad:
                raise ValueError(
                    f"suite config: unknown keys {bad} in {family} entry "
                    f"{d.get('id') or d.get('constraint_id')!r}"
                )


def suite_from_dict(spec: dict) -> Suite:
    """Compile the ``suite:`` section to the frozen Suite dataclasses. Field
    names mirror the DSL; ``id`` is accepted for constraint_id and ``dim``
    for dim_name. A family key with no entries (YAML ``row_checks:`` on a
    line of its own loads as None) is an empty family. An unknown family
    or field key raises ValueError."""
    spec = {k: [] if v is None else v for k, v in spec.items()}
    _reject_unknown_keys(spec)

    def cid(d: dict) -> str:
        return d.get("constraint_id") or d["id"]

    rows = tuple(
        RowCheck(
            cid(d),
            d["predicate"],
            d.get("observed", "NULL"),
            d.get("expected", d["predicate"]),
            requires_audio=bool(d.get("requires_audio", False)),
            requires_container=bool(d.get("requires_container", False)),
        )
        for d in spec.get("row_checks", [])
    )
    stats = tuple(
        StatCheck(cid(d), d["column"], d["stat"], d["op"], float(d["threshold"]))
        for d in spec.get("stat_checks", [])
    )
    uniques = tuple(
        UniqueCheck(cid(d), d["column"]) for d in spec.get("unique_checks", [])
    )
    refs = tuple(
        RefCheck(cid(d), d["column"], d.get("dim") or d["dim_name"])
        for d in spec.get("ref_checks", [])
    )
    drifts = tuple(
        DriftCheck(
            cid(d),
            d["column"],
            float(d.get("lo", 0.0)),
            float(d.get("hi", 0.0)),
            nbins=int(d.get("nbins", 20)),
            psi_max=float(d.get("psi_max", 0.2)),
            ks_max=float(d.get("ks_max", 0.15)),
            equi_depth=bool(d.get("equi_depth", False)),
            distributed=bool(d.get("distributed", False)),
            categorical=bool(d.get("categorical", False)),
        )
        for d in spec.get("drift_checks", [])
    )
    fds = tuple(
        FdCheck(
            cid(d),
            tuple(
                [d["determinant"]]
                if isinstance(d["determinant"], str)
                else d["determinant"]
            ),
            d["dependent"],
        )
        for d in spec.get("fd_checks", [])
    )
    recs = tuple(
        ReconcileCheck(
            cid(d),
            tuple(
                [d["compare_cols"]]
                if isinstance(d["compare_cols"], str)
                else d["compare_cols"]
            ),
            max_removed_rate=float(d.get("max_removed_rate", 0.0)),
            max_changed_rate=float(d.get("max_changed_rate", 0.0)),
            max_added_rate=(
                None
                if d.get("max_added_rate") is None
                else float(d["max_added_rate"])
            ),
        )
        for d in spec.get("reconcile_checks", [])
    )
    suite = Suite(
        row_checks=rows,
        stat_checks=stats,
        unique_checks=uniques,
        ref_checks=refs,
        drift_checks=drifts,
        fd_checks=fds,
        reconcile_checks=recs,
    )
    ids = suite.all_ids()
    dupes = {i for i in ids if ids.count(i) > 1}
    if dupes:
        raise ValueError(f"duplicate constraint ids in suite config: {sorted(dupes)}")
    return suite


def load_suite(
    path: str,
    defaults_path: str | None = None,
    context: dict | None = None,
) -> Suite:
    """YAML file → Suite. The file needs a top-level ``suite:`` mapping."""
    conf = load_config(path, defaults_path, context)
    if "suite" not in conf:
        raise ValueError(f"{path} has no 'suite:' section")
    return suite_from_dict(conf["suite"])


def suite_to_dict(suite: Suite) -> dict:
    """The exact inverse of ``suite_from_dict`` — every check kind, using
    the loader's canonical key names, so
    ``suite_from_dict(suite_to_dict(s)) == s`` (frozen dataclasses compare
    by value; pytest-pinned). This is what lets ``run_suite --suggest``
    persist a suggested suite as a YAML file a later run loads unchanged —
    the Deequ suggestion loop closed operationally, and the same mirror
    convention as the shipped clips-suite YAML."""
    def rows(checks, field_map: dict[str, str], drop_defaults: dict):
        out = []
        for c in checks:
            d = dataclasses.asdict(c)
            d["id"] = d.pop("constraint_id")
            for src, dst in field_map.items():
                d[dst] = d.pop(src)
            for k, default in drop_defaults.items():
                if d.get(k) == default:
                    d.pop(k, None)
            for k, v in list(d.items()):
                if isinstance(v, tuple):
                    d[k] = list(v)
            out.append(d)
        return out

    spec = {
        "row_checks": rows(
            suite.row_checks,
            {},
            {"requires_audio": False, "requires_container": False},
        ),
        "stat_checks": rows(suite.stat_checks, {}, {}),
        "unique_checks": rows(suite.unique_checks, {}, {}),
        "ref_checks": rows(suite.ref_checks, {"dim_name": "dim"}, {}),
        "drift_checks": rows(
            suite.drift_checks,
            {},
            {
                "nbins": 20,
                "psi_max": 0.2,
                "ks_max": 0.15,
                "equi_depth": False,
                "distributed": False,
                "categorical": False,
            },
        ),
        "fd_checks": rows(suite.fd_checks, {}, {}),
        "reconcile_checks": rows(suite.reconcile_checks, {}, {}),
    }
    return {k: v for k, v in spec.items() if v}


def save_suite(suite: Suite, path: str) -> None:
    """Write ``{suite: ...}`` YAML loadable by ``load_suite``."""
    with open(path, "w") as f:
        yaml.safe_dump({"suite": suite_to_dict(suite)}, f, sort_keys=False)
