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
executor from the inputs alone, and log the choice as one record on the
`sgspark.route` logger (`log_route`; README.md, "Which route ran").

`config` is a `ContextVar` holding a read-only mapping, so an override
is scoped to the thread or asyncio task that makes it: two threads that
build plans at once each see their own runners.

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
from contextvars import ContextVar
from types import MappingProxyType
from typing import Any, Callable, Iterator, Mapping, NamedTuple

config: ContextVar[Mapping[str, Any]] = ContextVar(
    "sgspark_config", default=MappingProxyType({
        "refine_runner": None,
        "union_runner": None,
    }))


def get_runner(key: str, default: Callable) -> Callable:
    """Resolve a runner callable: the configured override or `default`."""
    return config.get().get(key) or default


@contextmanager
def config_override(**kw) -> Iterator[Mapping[str, Any]]:
    """Override config keys for the calling thread or task until the block
    exits (test/bench harness helper)."""
    token = config.set(MappingProxyType({**config.get(), **kw}))
    try:
        yield config.get()
    finally:
        config.reset(token)


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
