"""Synchronous label propagation (community detection) on the shared
gather superstep.

Semantics (pinned by the numpy oracle in tests/test_algorithms.py,
deterministic by construction):

* labels start as vertex ids;
* each superstep every vertex adopts the most frequent label among
  its neighbors, ties broken by the SMALLEST label (deterministic —
  asynchronous/random variants are not reproducible, so we fix the
  synchronous min-tie-break variant);
* vertices keep their label when they have no neighbors;
* run a fixed number of supersteps or until no label changes
  (synchronous LPA can oscillate on bipartite structures, hence the
  iteration cap).

Each superstep is one gather
(:func:`simdgraphprocessing_spark.iteration.gather`): the labels join
the checkpointed edges on ``src`` (broadcast below the session's
broadcast threshold), and the neighbour labels plus each vertex's own
row go through one ``groupBy(id)`` whose ``mode(l, deterministic)``
returns the most frequent label, the smallest on a tie. The own row
carries the old label in a column ``mode`` never reads, so it is not
a vote; it is the fallback for an isolated vertex and the baseline the
``changed`` flag compares against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import (
    IterationResult,
    count_changed,
    gather,
    gather_plan,
    run_supersteps,
)


def label_propagation(
    edges: DataFrame,
    max_iterations: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 2,
) -> IterationResult:
    """State: (id, label). ``edges`` symmetrized."""
    plan = gather_plan(edges)
    init = plan.vtab.select("id", F.col("id").alias("label"))

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        label = F.coalesce(F.mode("l", True), F.max("old"))
        new = gather(
            plan, state, {"l": F.col("label")}, {"old": F.col("label")},
            [label.alias("label"), (label != F.max("old")).alias("_chg")],
        )
        return new, plan.record()

    result = run_supersteps(
        edges.sparkSession,
        init,
        step,
        max_iterations=max_iterations,
        converged=lambda m: m.get("changed", 1) == 0,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        measure=count_changed,
    )
    plan.close()
    result.state = result.state.select("id", "label")
    return result
