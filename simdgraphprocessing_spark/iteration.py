"""Superstep driver with checkpoint/resume, and the one gather
superstep PageRank, connected components and label propagation share
— the distributed generalization of the reference's frontier loop
(``apps/n_path.cpp:58-83``: gather from one shared vertex array into
each vertex's neighbour list → merge → convergence test).

Gather plan (:func:`gather_plan`, built once per operator call):

* the ``(src, dst)`` edge copy, repartitioned by ``src`` and
  ``localCheckpoint``-ed, so every superstep plan starts from a short
  lineage instead of the whole corpus → edges → degree-rank plan;
* the ``(id, outdeg)`` vertex table, also checkpointed, and V;
* the join the vertex state takes onto the edges: ``broadcast`` while
  V·16 B fits the session's ``spark.sql.autoBroadcastJoinThreshold``,
  ``shuffle_hash`` above it (the partition-or-not choice; the figure,
  the threshold and the choice go into every superstep's metrics).

Gather superstep (:func:`gather`): the state joins the edges on
``src``; the messages, unioned with each vertex's own row (which
carries its old value), go through ONE ``groupBy(id)`` aggregate —
``min`` for CC, ``sum`` for PageRank, ``mode`` for LP. Below the
threshold that is the superstep's only shuffle exchange.

Driver contract: a superstep is a function
``(state_df, k) -> (new_state_df, metrics_dict)`` that builds a lazy
plan. The driver

* materialises each new state exactly once — ``localCheckpoint``
  in memory, or a parquet write + re-read at a durable checkpoint —
  which also truncates lineage (iterative plans otherwise grow
  without bound),
* THEN computes the convergence measure (``measure``) from the
  materialised V rows, so the E-sized plan never runs twice,
* checkpoints vertex state to ``checkpoint_dir/superstep=K/`` every
  ``checkpoint_every`` supersteps, at ``max_iterations`` and at the
  converged superstep, with per-superstep metrics + lineage JSON
  (``_metrics.json``),
* resumes from the last *complete* superstep (parquet ``_SUCCESS``
  marker and metrics file both present) after a crash — ``run()``
  with the same ``checkpoint_dir`` just continues, and returns at once
  when that superstep had converged.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

Superstep = Callable[[DataFrame, int], tuple[DataFrame, dict]]

# bytes per vertex-state row the broadcast decision charges: an int64
# id plus one 8-byte value
STATE_ROW_BYTES = 16


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    metrics: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def _local_ckpt_jrdd(df: DataFrame):
    """JVM RDD backing a ``localCheckpoint``-ed DataFrame, or None.

    ``DataFrame.unpersist()`` only drops CacheManager entries; the
    blocks behind ``localCheckpoint`` belong to an RDD-level persist
    that the CacheManager never sees, so they linger until the JVM
    garbage-collects the RDD object and the ContextCleaner notices —
    with Spark's default periodic GC that is up to 30 MINUTES. On an
    iterative driver that leaks one V-sized block per superstep:
    measured on an 8M-file graph at local[8], superstep walls degraded
    23s -> 46s while the persisted-RDD count climbed monotonically,
    and snapped back the instant the cleaner ran. Freeing the previous
    superstep's block explicitly keeps walls flat.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:  # py4j surface moved — degrade to cleaner-based GC
        pass
    return None


def _free_local_ckpt(df: DataFrame) -> None:
    jrdd = _local_ckpt_jrdd(df)
    if jrdd is not None:
        jrdd.unpersist(False)


@dataclass
class GatherPlan:
    """One operator call's gather layout (see the module docstring).
    ``vtab`` is ``(id, outdeg)`` with ``outdeg`` null for a vertex
    without out-edges; ``close()`` frees both checkpointed copies."""

    edges: DataFrame
    vtab: DataFrame
    n: int
    has_dangling: bool
    join: str  # "broadcast" or "shuffle_hash"
    state_bytes: int
    broadcast_threshold: int

    def record(self) -> dict:
        """The physical-plan choice and the figures that decided it."""
        return {
            "join": self.join,
            "state_bytes": self.state_bytes,
            "broadcast_threshold": self.broadcast_threshold,
        }

    def close(self) -> None:
        _free_local_ckpt(self.edges)
        _free_local_ckpt(self.vtab)


def gather_plan(edges: DataFrame) -> GatherPlan:
    """Checkpoint the edge copy and vertex table; pick the state join."""
    spark = edges.sparkSession
    edges = edges.select("src", "dst").repartition("src").localCheckpoint(eager=True)
    # out-degree and the vertex set (src ∪ dst) in one aggregate
    vtab = (
        edges.select(F.col("src").alias("id"), F.lit(1).alias("o"))
        .union(edges.select(F.col("dst").alias("id"), F.lit(None).cast("int").alias("o")))
        .groupBy("id")
        .agg(F.sum("o").alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    row = vtab.agg(F.count("*").alias("n"), F.count_if(F.col("outdeg").isNull()).alias("d")).first()
    n = int(row["n"])
    threshold = int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())
    state_bytes = STATE_ROW_BYTES * n
    join = "broadcast" if 0 <= state_bytes <= threshold else "shuffle_hash"
    return GatherPlan(edges, vtab, n, row["d"] > 0, join, state_bytes, threshold)


def gather(
    plan: GatherPlan,
    state: DataFrame,
    send: dict[str, Column],
    keep: dict[str, Column],
    aggs: list[Column],
) -> DataFrame:
    """One gather superstep's plan. Every edge ``src -> dst`` carries
    the ``send`` columns of ``src``'s state row to ``dst``; every
    vertex's own row carries its ``keep`` columns (columns a row lacks
    are null); ``aggs`` reduce both per ``id`` in a single aggregate."""
    side = state.select(F.col("id").alias("src"), *(c.alias(k) for k, c in send.items()))
    side = F.broadcast(side) if plan.join == "broadcast" else side.hint("shuffle_hash")
    msgs = plan.edges.join(side, "src").select(F.col("dst").alias("id"), *send)
    own = state.select("id", *(c.alias(k) for k, c in keep.items()))
    return msgs.unionByName(own, allowMissingColumns=True).groupBy("id").agg(*aggs)


def count_changed(state: DataFrame) -> dict:
    """Convergence measure of a state carrying a boolean ``_chg``."""
    return {"changed": state.filter(F.col("_chg")).count()}


def _ckpt_path(checkpoint_dir: str, k: int) -> str:
    return os.path.join(checkpoint_dir, f"superstep={k}")


def _metrics_path(checkpoint_dir: str, k: int) -> str:
    return os.path.join(_ckpt_path(checkpoint_dir, k), "_metrics.json")


def last_complete_superstep(checkpoint_dir: str) -> int | None:
    """Largest K with both a parquet _SUCCESS marker and metrics."""
    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return None
    best = None
    for name in os.listdir(checkpoint_dir):
        if not name.startswith("superstep="):
            continue
        k = int(name.split("=", 1)[1])
        d = os.path.join(checkpoint_dir, name)
        if os.path.exists(os.path.join(d, "_SUCCESS")) and os.path.exists(
            os.path.join(d, "_metrics.json")
        ):
            best = k if best is None else max(best, k)
    return best


def _write_durable(
    spark: SparkSession, df: DataFrame, path: str, state_partitions: int | None
) -> tuple[DataFrame, int, list[dict]]:
    """Write ``df`` to parquet at ``path`` and re-read it persisted:
    truncates lineage AND pins state to durable storage. Returns the
    re-read state, its row count and its per-partition lineage — one
    manifest entry per state partition file (name + bytes), so a
    resumed run, or an auditor, can tie every partition of superstep K
    to the exact files superstep K+1 read."""
    if state_partitions:
        df = df.repartition(state_partitions)
    df.write.mode("overwrite").parquet(path)
    state = spark.read.parquet(path).persist()
    n_rows = state.count()
    lineage = [
        {"file": f, "bytes": os.path.getsize(os.path.join(path, f))}
        for f in sorted(os.listdir(path))
        if f.startswith("part-") and not f.endswith(".crc")
    ]
    return state, n_rows, lineage


def run_supersteps(
    spark: SparkSession,
    initial_state: DataFrame,
    step: Superstep,
    max_iterations: int,
    converged: Callable[[dict], bool] | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    state_partitions: int | None = None,
    measure: Callable[[DataFrame], dict] | None = None,
) -> IterationResult:
    """Run ``step`` until convergence / max_iterations, checkpointing.

    ``measure(state)`` runs on each materialised new state and its
    dict joins the step's metrics; ``converged(metrics)`` then decides
    (e.g. ``{"changed": 0}``) — the driver-side convergence test the
    reference does with ``frontier.cardinality == 0``.
    """
    start_k = 0
    resumed_from = None
    state = initial_state
    metrics_log: list[dict] = []

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        last = last_complete_superstep(checkpoint_dir)
        if last is not None:
            state = spark.read.parquet(_ckpt_path(checkpoint_dir, last))
            with open(_metrics_path(checkpoint_dir, last)) as fh:
                metrics_log = json.load(fh).get("history", [])
            start_k = last
            resumed_from = last
            if metrics_log and converged and converged(metrics_log[-1]):
                return IterationResult(state, last, metrics_log, resumed_from)

    state = state.persist()
    state.count()  # materialize

    k = start_k
    while k < max_iterations:
        t0 = time.time()
        new_state, m = step(state, k)
        k += 1
        m = dict(m)

        path = _ckpt_path(checkpoint_dir, k) if checkpoint_dir else None
        durable = path is not None and (k % checkpoint_every == 0 or k == max_iterations)
        n_rows, lineage = None, None
        if durable:
            new_state, n_rows, lineage = _write_durable(spark, new_state, path, state_partitions)
        else:
            # eager localCheckpoint is the single materializing action
            new_state = new_state.localCheckpoint(eager=True)
        # the new state is materialized, so the previous one is dead
        # weight; its localCheckpoint blocks are RDD-level, which
        # DataFrame.unpersist cannot reach (see _local_ckpt_jrdd)
        state.unpersist()
        _free_local_ckpt(state)
        if measure:
            m.update(measure(new_state))
        if path and not durable and converged and converged(m):
            # write the converged state too, or a resume would
            # recompute the superstep that got here
            ckpt = new_state
            new_state, n_rows, lineage = _write_durable(spark, ckpt, path, state_partitions)
            _free_local_ckpt(ckpt)
            durable = True

        m.update({"superstep": k, "rows": n_rows, "wall_sec": round(time.time() - t0, 4)})
        if lineage is not None:
            m["num_partitions"] = len(lineage)
            m["partition_lineage"] = lineage
        metrics_log.append(m)
        if durable:
            with open(_metrics_path(checkpoint_dir, k), "w") as fh:
                json.dump({"superstep": k, "history": metrics_log}, fh)

        state = new_state
        if converged and converged(m):
            break

    return IterationResult(state, k, metrics_log, resumed_from)
