"""Query profiler: per-node timing/row breakdown of a query tree.

Re-expression of the reference's sandbox profiler
(``sandbox/search/QueryProfilerIndexSearcher.java`` — a searcher wrapper
that times every query node; ``QueryProfilerBreakdown.java`` — per-node
phase timers; ``QueryProfilerTree.java`` — results mirror the rewritten
query tree; ``QueryProfilerTimingType.java:23`` — CREATE_WEIGHT /
BUILD_SCORER / NEXT_DOC / SCORE phases).

The phase set maps onto Spark's execution model, where a query node is a
declarative DataFrame subplan, not a pull iterator:

- ``create_weight_ms``: time to CONSTRUCT the node's plan (analysis +
  Catalyst logical plan building — the driver-side cost the reference
  books under CREATE_WEIGHT/rewrite);
- ``execute_ms``: wall time to EXECUTE the node's subplan in isolation
  (one count action — BUILD_SCORER + NEXT_DOC + SCORE folded together,
  since Tungsten fuses iteration and scoring inside codegen and they are
  not separately observable);
- ``rows``: matching docs the node produces (the reference reports the
  equivalent via collector hit counts per node).

Like the reference's profiler (which wraps every Scorer in timing
shims), profiling adds overhead — each node runs as its own job — and
exists for diagnosis, not serving. The per-node jobs are independent
actions over the same cached index, so relative costs are meaningful.

``profile(searcher, q)`` returns a ``ProfileNode`` tree;
``ProfileNode.table()`` flattens it to rows for display/DataFrame use.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from lucene_spark.search import query as Q

__all__ = ["ProfileNode", "profile"]


@dataclass
class ProfileNode:
    """One node of the profiled query tree (QueryProfilerResult analog)."""

    type: str
    description: str
    create_weight_ms: float
    execute_ms: float
    rows: int
    children: list = field(default_factory=list)

    @property
    def total_ms(self) -> float:
        return self.create_weight_ms + self.execute_ms

    def table(self, depth: int = 0) -> list[tuple]:
        """(depth, type, description, create_weight_ms, execute_ms, rows)
        rows in pre-order — the flat view the reference's profiler API
        exposes per leaf."""
        out = [
            (
                depth,
                self.type,
                self.description,
                round(self.create_weight_ms, 3),
                round(self.execute_ms, 3),
                self.rows,
            )
        ]
        for c in self.children:
            out.extend(c.table(depth + 1))
        return out


def _children(q: Q.Query) -> list[Q.Query]:
    if isinstance(q, Q.BooleanQuery):
        return [c.query for c in q.clauses]
    if isinstance(q, Q.DisjunctionMaxQuery):
        return list(q.queries)
    if isinstance(q, (Q.ConstantScoreQuery, Q.BoostQuery)):
        return [q.query]
    return []


def _describe(q: Q.Query) -> str:
    s = repr(q)
    return s if len(s) <= 120 else s[:117] + "..."


def profile(searcher, q: Q.Query, scored: bool = True) -> ProfileNode:
    """Profile ``q`` and every sub-query node against ``searcher``.

    ``scored=True`` executes scoring subplans (SCORE phase included) where
    the node type supports scores; filter-only nodes (ranges, exists,
    constant-score wrappers) always run their match subplan.
    """
    t0 = time.perf_counter()
    try:
        plan = searcher.scored(q) if scored else searcher.matches(q)
    except NotImplementedError:
        # nodes without a scored form (pure filters) fall back to matching;
        # anything else (AttributeError/ValueError from a genuine scoring
        # bug or bad field) must propagate, not be silently reprofiled as
        # a filter
        plan = searcher.matches(q)
    create_ms = (time.perf_counter() - t0) * 1000.0

    t1 = time.perf_counter()
    rows = plan.count()
    exec_ms = (time.perf_counter() - t1) * 1000.0

    node = ProfileNode(
        type=type(q).__name__,
        description=_describe(q),
        create_weight_ms=create_ms,
        execute_ms=exec_ms,
        rows=int(rows),
    )
    for child in _children(q):
        node.children.append(profile(searcher, child, scored=scored))
    return node
