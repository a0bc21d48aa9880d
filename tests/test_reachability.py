"""Reachability gates, computed from the source with ``ast`` (no import
runs, no Spark).

Module gate: every package module is imported, directly or through other
package modules, from one of the product's entry points, following
module-level and function-level imports alike.

Def gate: every top-level function and class of a reached module is named
by code that the product runs. Roots are the entry-point modules' own defs
and re-exports, the import-time statements of every reached module, and
every name the benchmark (``perfbench/``) and the deployment scripts
(``tools/``) mention. From each reached def, every name it mentions
(``Name``, ``Attribute``, import alias, identifier-shaped string) reaches
each top-level def of that name in any module. Matching bare names
over-approximates what runs, so live code is never flagged. Tests are not
roots: a def only tests call is dead code. ``UNREACHED_DEFS`` lists the
unreached defs still kept.

The list may only shrink: a listed def that was deleted or became
reachable fails the gate until it leaves the list.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pyanomalydetector2_spark

PKG = "pyanomalydetector2_spark"
ROOT = Path(pyanomalydetector2_spark.__file__).parent
# scripts outside the package whose every mentioned name is a root
REPO = Path(__file__).resolve().parents[1]
SCRIPT_DIRS = [REPO / "perfbench", REPO / "tools"]

ENTRY_POINTS = [
    f"{PKG}.run_suite",
    f"{PKG}.constraints",
    f"{PKG}.constraints.config",
    f"{PKG}.streaming.suite_stream",
    f"{PKG}.pipeline",
    f"{PKG}.plans",
]

# "module:name" (module relative to the package) of each unreached def
UNREACHED_DEFS = {
    "datagen.clips:reference_pcm",
    "functions:safe_div",
    "operators.audio:snr_db",
    "operators.curation:bench_bucket",
    "operators.curation:contamination_rate",
    "operators.curation:decontaminate",
    "operators.curation:pack_shards",
    "operators.curation:pii_metrics",
    "operators.curation:pii_redact",
    "operators.curation:split_leakage",
    "operators.dedup:_banded",
    "operators.dedup:_capped_buckets",
    "operators.dedup:_star_components",
    "operators.dedup:bucket_stats_from_banded",
    "operators.dedup:dup_clusters",
    "operators.dedup:edit_near_dup",
    "operators.dedup:exact_substring_dup",
    "operators.dedup:h60",
    "operators.dedup:incremental_candidate_pairs",
    "operators.dedup:incremental_pairs_from_banded",
    "operators.dedup:jaccard_from_shingles",
    "operators.dedup:jaccard_pairs",
    "operators.dedup:keep_best_per_cluster",
    "operators.dedup:lsh_bucket_stats",
    "operators.dedup:lsh_candidate_pairs",
    "operators.dedup:minhash_from_shingles",
    "operators.dedup:minhash_mix_consts",
    "operators.dedup:minhash_signatures",
    "operators.dedup:near_dup_jaccard",
    "operators.dedup:near_dup_jaccard_incremental",
    "operators.dedup:pairs_from_banded",
    "operators.dedup:shingle_frame",
    "operators.image_codec:_jpeg_header_impl",
    "operators.image_codec:_paeth",
    "operators.image_codec:_png_chunk",
    "operators.image_codec:decode_bmp",
    "operators.image_codec:decode_image",
    "operators.image_codec:decode_png",
    "operators.image_codec:encode_bmp",
    "operators.image_codec:encode_png",
    "operators.image_codec:image_header",
    "operators.image_codec:jpeg_header",
    "operators.image_codec:png_header",
    "operators.jpeg_codec:_BitReader",
    "operators.jpeg_codec:_BitWriter",
    "operators.jpeg_codec:_HuffTable",
    "operators.jpeg_codec:_ac_first_block",
    "operators.jpeg_codec:_ac_refine_block",
    "operators.jpeg_codec:_decode_jpeg_impl",
    "operators.jpeg_codec:_decode_scan",
    "operators.jpeg_codec:_encode_codes",
    "operators.jpeg_codec:_extend",
    "operators.jpeg_codec:_finalize",
    "operators.jpeg_codec:_init_frame",
    "operators.jpeg_codec:_iter_mcu_blocks",
    "operators.jpeg_codec:_iter_single_blocks",
    "operators.jpeg_codec:_mag",
    "operators.jpeg_codec:_scan_ac_progressive",
    "operators.jpeg_codec:_scan_blocks_sequential",
    "operators.jpeg_codec:_scan_dc_progressive",
    "operators.jpeg_codec:dct2_blocks",
    "operators.jpeg_codec:decode_jpeg",
    "operators.jpeg_codec:encode_jpeg_baseline",
    "operators.jpeg_codec:idct2_blocks",
    "operators.kll:_error_bound",
    "operators.kll:kll_build",
    "operators.kll:kll_merge",
    "operators.multimodal:_consistency_probe",
    "operators.multimodal:_image_meta",
    "operators.multimodal:audio_container_consistency",
    "operators.multimodal:audio_container_meta",
    "operators.multimodal:audio_features",
    "operators.multimodal:fake_decode_array",
    "operators.multimodal:fake_image_meta",
    "operators.multimodal:image_metadata",
    "operators.multimodal:resize_images",
    "operators.multimodal:resize_nearest",
    "operators.multimodal:sample_frames",
    "operators.multimodal:with_consistency_fields",
    "operators.ogg_opus:ogg_crc_reference",
    "operators.reconcile:schema_changes",
    "operators.sampling:group_quota_sample",
    "operators.sampling:hash_sample",
    "operators.sampling:sample_bucket",
    "operators.sampling:stratified_hash_sample",
    "operators.sampling:train_split",
    "operators.skew:salted_moment_stats",
    "operators.stats:freshness",
    "operators.text:_neighbor_dup_chars",
    "operators.text:_top_run",
    "operators.text:ngram_array",
    "operators.text:oov_rate",
    "operators.text:repetition_metrics",
    "operators.text:token_metrics",
    "operators.text:vocab_counts",
    "operators.text:vocab_drift",
    "operators.text:vocab_topk",
    "operators.text:ws_tokens",
    "operators.windows:first_row_per_group",
    "operators.windows:groups_with_min_size",
    "operators.windows:minmax_normalize",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in ROOT.rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join([PKG, *parts])] = path
    return mods


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` also runs ``a/__init__`` and ``a/b/__init__``."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    is_pkg = path.name == "__init__.py"
    here = name if is_pkg else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            # ``from pkg import mod`` imports the submodule ``pkg.mod``
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            found.update(m for m in _with_parents(t) if m in mods)
    return found


def _closure(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [m for e in ENTRY_POINTS for m in _with_parents(e)]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imports(name, mods[name], mods) - seen)
    return seen


def test_entry_points_exist():
    mods = _package_modules()
    assert [e for e in ENTRY_POINTS if e not in mods] == []


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    unreached = set(mods) - _closure(mods)
    assert sorted(unreached) == [], "modules no entry point imports"


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` mentions: variables, attributes, imported names
    and identifier-shaped strings (``getattr``-style lookups)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORT = (ast.Import, ast.ImportFrom)


def _unreached_defs() -> set[str]:
    mods = _package_modules()
    defs: dict[str, ast.AST] = {}  # "module:name" -> def node
    by_name: dict[str, list[str]] = {}
    roots: set[str] = set()  # bare names the product runs
    todo: list[str] = []  # "module:name" keys to visit
    for m in _closure(mods):
        short = m.removeprefix(f"{PKG}.")
        for stmt in ast.parse(mods[m].read_text(), str(mods[m])).body:
            if isinstance(stmt, _DEF):
                key = f"{short}:{stmt.name}"
                defs[key] = stmt
                by_name.setdefault(stmt.name, []).append(key)
                if m in ENTRY_POINTS:
                    todo.append(key)
            elif isinstance(stmt, _IMPORT):
                if m in ENTRY_POINTS:  # re-exports
                    roots |= _names(stmt)
            else:  # runs at import time
                roots |= _names(stmt)
    for d in SCRIPT_DIRS:
        for path in d.glob("*.py"):
            roots |= _names(ast.parse(path.read_text(), str(path)))

    todo += [k for n in roots for k in by_name.get(n, ())]
    seen: set[str] = set()
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo += [k for n in _names(defs[key]) for k in by_name.get(n, ())]
    return set(defs) - seen


def test_every_top_level_def_is_reached_from_an_entry_point():
    unreached = _unreached_defs()
    assert sorted(unreached - UNREACHED_DEFS) == [], "defs the product never names"
    # a listed def that was deleted or became reachable leaves the list
    assert sorted(UNREACHED_DEFS - unreached) == []
