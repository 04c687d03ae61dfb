"""Connected components: min-label propagation on the shared gather
superstep (exact at convergence), instantiating the reference's
BFS-frontier template (``apps/n_path.cpp:58-83``) with label state.

new_label(v) = min(label(v), min_{u ∈ N(v)} label(u)); stop when no
label changed. Converges in O(diameter) supersteps on the symmetrized
edge table. Each superstep is one gather
(:func:`simdgraphprocessing_spark.iteration.gather`): the labels join
the checkpointed edges on ``src`` (broadcast below the session's
broadcast threshold), and the messages plus each vertex's own label
go through one ``groupBy(id).min``, which also flags the labels that
changed; the driver counts those from the materialised state.

Scale note: on huge, high-diameter graphs the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce") cuts
supersteps to O(log² n); min-label is chosen here because it is exact
in a handful of supersteps on short-diameter link graphs and keeps
per-superstep cost minimal. The checkpoint/resume contract is what
makes long runs safe either way.
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


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 2,
) -> IterationResult:
    """State: (id, component) — component = min reachable vertex id.

    ``edges`` must be symmetrized (both directions present), as
    :func:`simdgraphprocessing_spark.graph.normalize_edges` produces.
    """
    plan = gather_plan(edges)
    init = plan.vtab.select("id", F.col("id").alias("component"))

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        c = F.col("component")
        new = gather(
            plan, state, {"c": c}, {"c": c, "old": c},
            [F.min("c").alias("component"), (F.min("c") < F.max("old")).alias("_chg")],
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
    result.state = result.state.select("id", "component")
    return result
