"""Runner-config seam — swap kernel implementations per run.

The reference exposes a module-level `config` dict selecting runner
objects (reference conf.py:76-90: rtree_runner / overlay_runner /
union_runner / n_jobs); engine twins of the runner knobs live here (Spark's
task scheduler owns parallelism, so n_jobs has none).  Values
are resolved DRIVER-SIDE at plan-construction time (the chosen callable
is captured into the Arrow kernel closure), so overrides apply to
DataFrames built after the change, like the reference's runner objects
apply to calls made after assignment.

Routes are not keys here: `sjoin_pairs` picks its executor from the
inputs alone (the distributed point x polygon join by its estimated pair
count against the module constant `joins.PIP_COMPILED_MIN_PAIRS`).

Keys:
  refine_runner    callable(la, ra, li, ri, predicate) -> bool ndarray —
                   replaces the pair-refine kernel (reference
                   RTreeQueryRunner.query seam, runners.py:160-200).
  union_runner     callable(list[wkb]) -> wkb — replaces the per-group
                   geometry union (reference UnionRunner seam,
                   runners.py:50-120).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Callable, Iterator

config: dict[str, Any] = {
    "refine_runner": None,
    "union_runner": None,
}


def get_runner(key: str, default: Callable) -> Callable:
    """Resolve a runner callable: the configured override or `default`."""
    return config.get(key) or default


@contextmanager
def config_override(**kw) -> Iterator[dict]:
    """Temporarily override config keys (test/bench harness helper)."""
    old = {k: config.get(k) for k in kw}
    config.update(kw)
    try:
        yield config
    finally:
        config.update(old)
