"""Delta-dir state layout of the streaming constraint suite.

Each state component persists per-micro-batch parquet delta directories
(``<component>/batch=N``) plus optional compacted generations
(``<component>_base/gen=N``). The pattern gives:

- **idempotent replay**: a re-delivered micro-batch overwrites its own
  ``batch=N`` dirs, so crash/restart cannot double-count;
- **crash-safe compaction**: a generation is only visible once its
  ``_SUCCESS`` marker exists — an interrupted fold leaves readers on the
  un-folded deltas (``suite_stream.compact_suite_state``).

``suite_stream._component_state`` resolves a component's read list (base
plus committed deltas after it) from these two helpers.
"""

from __future__ import annotations

import os


def batch_dirs(path: str) -> list[tuple[int, str]]:
    if not os.path.isdir(path):
        return []
    return sorted(
        (int(f.split("=", 1)[1]), f"{path}/{f}")
        for f in os.listdir(path)
        if f.startswith("batch=")
    )


def latest_gen(path: str) -> tuple[int, str] | None:
    """Newest COMPLETE compacted generation (``gen=N`` with ``_SUCCESS``)
    under ``path``, or None. An interrupted compaction leaves a gen dir
    without ``_SUCCESS``; it is invisible here, so readers fall back to
    the delta dirs it failed to fold — compaction is crash-safe by
    construction."""
    if not os.path.isdir(path):
        return None
    gens = [
        (int(f.split("=", 1)[1]), f"{path}/{f}")
        for f in os.listdir(path)
        if f.startswith("gen=")
        and os.path.exists(f"{path}/{f}/_SUCCESS")
    ]
    return max(gens) if gens else None
