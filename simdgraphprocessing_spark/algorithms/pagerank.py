"""PageRank on the shared gather superstep.

The reference has no PageRank (its closest structure is the BFS
gather loop, ``apps/n_path.cpp:58-83``); semantics are pinned by our
numpy power-iteration oracle (tests/test_algorithms.py):

    r_{t+1}(v) = (1-d)/N + d · ( Σ_{u→v} r_t(u)/outdeg(u)
                                 + dangling_mass_t / N )

with d = 0.85, r_0 = 1/N, dangling mass redistributed uniformly.

Plan per superstep (all JVM-side, zero Python in the loop; see
:mod:`simdgraphprocessing_spark.iteration`): the ``(id, rank/outdeg)``
state joins the checkpointed edges on ``src`` (broadcast below the
session's broadcast threshold, shuffle_hash above it); the messages
``(dst, w)`` and each vertex's own row ``(id, outdeg, old rank)`` go
through one ``groupBy(id)`` whose ``sum(w)`` gives the new rank. The
own row keeps zero-indegree vertices in the state without a vertex
table join.

Convergence (``tol > 0``): each new state carries ``|new - old|``, and
the driver sums it from the materialised rows — one V-row scalar per
superstep, like the reference's cardinality test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simdgraphprocessing_spark.iteration import (
    GatherPlan,
    IterationResult,
    gather,
    gather_plan,
    run_supersteps,
)

# the prebuilt layout a caller may build once and pass to several
# ``pagerank(plan=...)`` calls; the names predate the broadcast side
ShufflePlanContext = GatherPlan
build_shuffle_plan = gather_plan


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iterations: int = 20,
    tol: float = 1e-10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    plan: ShufflePlanContext | None = None,
) -> IterationResult:
    """Returns IterationResult whose state is ``(id, rank)``.

    ``edges`` is a directed edge table (src, dst); for undirected
    graphs pass the symmetrized table. Vertices = src ∪ dst.

    ``plan``: optional prebuilt :func:`build_shuffle_plan`. When
    given, the caller owns its lifetime (no ``close()`` here) and
    ``edges`` is ignored in favor of the plan's checkpointed copy.
    """
    own_plan = plan is None
    if own_plan:
        plan = gather_plan(edges)
    n = plan.n
    # outdeg rides inside the state so the superstep needs no extra
    # vertex-table join to compute rank/outdeg
    init = plan.vtab.select("id", F.lit(1.0 / n).alias("rank"), "outdeg")
    compute_delta = tol > 0

    def step(state: DataFrame, k: int) -> tuple[DataFrame, dict]:
        dangling = 0.0
        if plan.has_dangling:
            dangling = state.filter(F.col("outdeg").isNull()).agg(F.sum("rank")).first()[0] or 0.0
        base = (1.0 - damping) / n + damping * dangling / n
        rank = F.lit(base) + F.lit(damping) * F.coalesce(F.sum("w"), F.lit(0.0))
        keep = {"outdeg": F.col("outdeg")}
        aggs = [rank.alias("rank"), F.max("outdeg").alias("outdeg")]
        if compute_delta:
            keep["old"] = F.col("rank")
            aggs.append(F.abs(rank - F.max("old")).alias("_d"))
        new = gather(plan, state, {"w": F.col("rank") / F.col("outdeg")}, keep, aggs)
        return new, {**plan.record(), "dangling_mass": float(dangling)}

    def measure(state: DataFrame) -> dict:
        return {"l1_delta": float(state.agg(F.sum("_d")).first()[0])} if compute_delta else {}

    result = run_supersteps(
        edges.sparkSession,
        init,
        step,
        max_iterations=max_iterations,
        converged=lambda m: m.get("l1_delta", 1.0) < tol,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        measure=measure,
    )
    if own_plan:
        plan.close()
    result.state = result.state.select("id", "rank")
    return result
