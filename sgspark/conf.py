"""Runner-config seam — swap kernel implementations per run.

The reference exposes a module-level `config` dict selecting runner
objects (reference conf.py:76-90: rtree_runner / overlay_runner /
union_runner / n_jobs); engine twins of the runner knobs live here (Spark's
task scheduler owns parallelism, so n_jobs has none).  Values
are resolved DRIVER-SIDE at plan-construction time (the chosen callable
is captured into the Arrow kernel closure), so overrides apply to
DataFrames built after the change, like the reference's runner objects
apply to calls made after assignment.

Routes are not keys here: `sjoin_pairs` and `shortest_paths` pick their
executor from the inputs alone (the distributed point x polygon join by
its estimated pair count against the module constant
`joins.PIP_COMPILED_MIN_PAIRS`), and log the choice as one record on the
`sgspark.route` logger (`log_route`; README.md, "Which route ran").

Keys:
  refine_runner    callable(la, ra, li, ri, predicate) -> bool ndarray —
                   replaces the pair-refine kernel (reference
                   RTreeQueryRunner.query seam, runners.py:160-200).
  union_runner     callable(list[wkb]) -> wkb — replaces the per-group
                   geometry union (reference UnionRunner seam,
                   runners.py:50-120).
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Any, Callable, Iterator, NamedTuple

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


ROUTE_LOG = logging.getLogger("sgspark.route")


class Route(NamedTuple):
    """One call's routing decision: the route `name`, the `reasons` it was
    taken, and the `facts` (probe results) its executor consumes."""
    name: str
    reasons: tuple
    facts: dict


def log_route(operator: str, route: Route, **counts) -> None:
    """ONE INFO record on `sgspark.route`, with attributes `operator`,
    `route`, `reasons` and `stats` (the number-valued facts, plus
    `counts`).  No Spark job, no Py4J call."""
    if ROUTE_LOG.isEnabledFor(logging.INFO):
        stats = {k: v for k, v in route.facts.items()
                 if isinstance(v, (int, float))}
        ROUTE_LOG.info("%s: %s (%s)", operator, route.name,
                       "; ".join(route.reasons),
                       extra={"operator": operator, "route": route.name,
                              "reasons": route.reasons,
                              "stats": {**stats, **counts}})
