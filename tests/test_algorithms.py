"""Iterative algorithms vs numpy oracles (FIXTURES.md §F3):
PageRank allclose(1e-6), CC exact, label propagation exact."""

from __future__ import annotations

import numpy as np
import pytest

from simdgraphprocessing_spark.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
)
from simdgraphprocessing_spark.iteration import last_complete_superstep
from tests.conftest import edge_df, numpy_graph, zipf_random_pairs


def pagerank_oracle(A: np.ndarray, d=0.85, iters=20, tol=1e-10):
    n = A.shape[0]
    outdeg = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[outdeg == 0].sum()
        contrib = np.zeros(n)
        nz = outdeg > 0
        contrib = (A[nz].T * (r[nz] / outdeg[nz])).sum(axis=1)
        new = (1 - d) / n + d * (contrib + 0 * dangling) + d * dangling / n
        if np.abs(new - r).sum() < tol:
            r = new
            break
        r = new
    return r


def cc_oracle(pairs, n):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min vertex id per component
    return {v: find(v) for v in range(n)}


def lpa_oracle(A: np.ndarray, iters: int):
    """Synchronous LPA, most-frequent neighbor label, min tie-break."""
    n = A.shape[0]
    labels = np.arange(n)
    for _ in range(iters):
        new = labels.copy()
        for v in range(n):
            nbrs = np.nonzero(A[v])[0]
            if nbrs.size == 0:
                continue
            vals, counts = np.unique(labels[nbrs], return_counts=True)
            new[v] = vals[counts == counts.max()].min()
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def test_pagerank_ring(spark):
    # ring: every vertex rank = 1/N exactly
    n = 12
    pairs = [(i, (i + 1) % n) for i in range(n)]
    e = edge_df(spark, pairs)
    res = pagerank(e, max_iterations=10)
    ranks = {r["id"]: r["rank"] for r in res.state.collect()}
    assert all(abs(v - 1.0 / n) < 1e-9 for v in ranks.values())


def test_pagerank_star_and_zipf_vs_oracle(spark):
    pairs = zipf_random_pairs(n=150)
    n = max(max(p) for p in pairs) + 1
    # directed version: low → high only (creates dangling vertices)
    from pyspark.sql import functions as F

    e = spark.createDataFrame(pairs, "src long, dst long")
    A = np.zeros((n, n), dtype=np.int64)
    for a, b in pairs:
        A[a, b] = 1
    res = pagerank(e, max_iterations=25, tol=1e-12)
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    expect = pagerank_oracle(A, iters=25, tol=1e-12)
    ids = sorted(got)
    got_v = np.array([got[i] for i in ids])
    exp_v = np.array([expect[i] for i in ids])
    assert np.allclose(got_v, exp_v, atol=1e-6)
    assert res.metrics, "metrics recorded per superstep"
    assert abs(got_v.sum() - 1.0) < 1e-6  # mass conserved


def test_connected_components_multi(spark):
    pairs = [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (8, 8)]
    e = edge_df(spark, [(a, b) for a, b in pairs if a != b])
    res = connected_components(e)
    comp = {r["id"]: r["component"] for r in res.state.collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 5, 7: 5}


def test_connected_components_zipf_vs_unionfind(spark):
    pairs = zipf_random_pairs(n=250)
    n = max(max(p) for p in pairs) + 1
    e = edge_df(spark, pairs)
    res = connected_components(e, max_iterations=60)
    comp = {r["id"]: r["component"] for r in res.state.collect()}
    oracle = cc_oracle(pairs, n)
    present = set(comp)
    for v in present:
        assert comp[v] == oracle[v]


def test_label_propagation_exact_vs_oracle(spark):
    pairs = zipf_random_pairs(n=80)
    A = numpy_graph(pairs)
    iters = 4
    e = edge_df(spark, pairs)
    res = label_propagation(e, max_iterations=iters)
    got = {r["id"]: r["label"] for r in res.state.collect()}
    expect = lpa_oracle(A, iters)
    for v, lbl in got.items():
        assert lbl == expect[v], f"vertex {v}"


def test_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: run 3 supersteps, then re-run with same dir —
    must resume from superstep 3, not restart."""
    pairs = zipf_random_pairs(n=100)
    e = edge_df(spark, pairs)
    ck = str(tmp_path / "pr_ck")
    res1 = pagerank(e, max_iterations=3, tol=0, checkpoint_dir=ck)
    assert res1.iterations == 3 and res1.resumed_from is None
    res2 = pagerank(e, max_iterations=6, tol=0, checkpoint_dir=ck)
    assert res2.resumed_from == 3
    assert res2.iterations == 6
    # resumed result equals a clean 6-iteration run
    clean = pagerank(e, max_iterations=6, tol=0)
    a = {r["id"]: r["rank"] for r in res2.state.collect()}
    b = {r["id"]: r["rank"] for r in clean.state.collect()}
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


SUPERSTEP_OPS = {
    "pagerank": lambda e: pagerank(e, max_iterations=8, tol=0.0),
    "components": lambda e: connected_components(e, max_iterations=8),
    "labelprop": lambda e: label_propagation(e, max_iterations=8),
}


@pytest.mark.parametrize("op", sorted(SUPERSTEP_OPS))
def test_supersteps_free_localcheckpoint_blocks(spark, op):
    """Each superstep's localCheckpoint must free the previous one's
    RDD-level blocks immediately — DataFrame.unpersist cannot reach
    them, and waiting for the ContextCleaner leaks one V-sized block
    per superstep (measured: superstep walls degrading 23s -> 46s on
    an 8M-file graph until the periodic GC fired). The operator's
    checkpointed edge copy and vertex table are freed on exit too."""
    sc = spark.sparkContext

    def n_persistent() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    pairs = zipf_random_pairs(n=400, seed=11)
    edges = edge_df(spark, pairs)
    base = n_persistent()
    res = SUPERSTEP_OPS[op](edges)
    # live set after the run: the final state's checkpoint block only —
    # NOT one block per superstep, and not the edge copy or vertex table
    assert n_persistent() - base <= 1, (base, n_persistent())
    # PageRank runs all 8; CC and LP stop when no label changes
    assert (res.iterations == 8) if op == "pagerank" else (res.iterations >= 2)
    res.state.unpersist()


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


@pytest.mark.parametrize("join", ["broadcast", "shuffle_hash"])
def test_gather_join_both_sides_of_threshold(spark, monkeypatch, join):
    """One gather plan serves all three operators. Below the session's
    broadcast threshold the V-sized state is broadcast and the
    superstep has a single shuffle exchange (the aggregate's); with the
    threshold set one byte below V·16 B the state join is a shuffled
    hash join. Either way the answers match the oracles."""
    import importlib

    from simdgraphprocessing_spark.iteration import STATE_ROW_BYTES

    pairs = zipf_random_pairs(n=150)
    verts = sorted({v for p in pairs for v in p})
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    if join == "shuffle_hash":
        spark.conf.set(key, str(STATE_ROW_BYTES * len(verts) - 1))
    threshold = int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())

    plans: list[str] = []

    def spy(module_name):
        module = importlib.import_module(module_name)
        real = module.gather

        def wrapped(*args, **kwargs):
            df = real(*args, **kwargs)
            plans.append(_explain(df))
            return df

        monkeypatch.setattr(module, "gather", wrapped)

    for name in ("pagerank", "components", "labelprop"):
        spy(f"simdgraphprocessing_spark.algorithms.{name}")
    try:
        directed = spark.createDataFrame(pairs, "src long, dst long")
        n = max(max(p) for p in pairs) + 1
        A_dir = np.zeros((n, n), dtype=np.int64)
        for a, b in pairs:
            A_dir[a, b] = 1
        pr = pagerank(directed, max_iterations=25, tol=1e-12)
        got = {r["id"]: r["rank"] for r in pr.state.collect()}
        expect = pagerank_oracle(A_dir, iters=25, tol=1e-12)
        assert sorted(got) == verts
        assert np.allclose([got[v] for v in verts], expect[verts], rtol=1e-6, atol=0.0)

        e = edge_df(spark, pairs)
        cc = connected_components(e, max_iterations=60)
        oracle = cc_oracle(pairs, n)
        assert {r["id"]: r["component"] for r in cc.state.collect()} == {v: oracle[v] for v in verts}
        # one superstep too: after four, hub labels have swept the graph,
        # which hides a wrong vote rule
        lps = [label_propagation(e, max_iterations=k) for k in (1, 4)]
        for lp, k in zip(lps, (1, 4)):
            lp_expect = lpa_oracle(numpy_graph(pairs), k)
            assert {r["id"]: r["label"] for r in lp.state.collect()} == {v: lp_expect[v] for v in verts}
    finally:
        spark.conf.set(key, default)

    for res in (pr, cc, *lps):
        assert res.metrics
        for m in res.metrics:
            assert m["join"] == join
            assert m["state_bytes"] == STATE_ROW_BYTES * len(verts)
            assert m["broadcast_threshold"] == threshold
    assert len(plans) == sum(res.iterations for res in (pr, cc, *lps))
    for txt in plans:
        if join == "broadcast":
            assert "BroadcastHashJoin" in txt and "ShuffledHashJoin" not in txt
            assert txt.count("Exchange hashpartitioning") == 1, txt
        else:
            assert "ShuffledHashJoin" in txt and "BroadcastHashJoin" not in txt


def test_converged_superstep_is_durable(spark, tmp_path):
    """A run that converges between every-2 checkpoints still leaves
    its converged superstep on disk, so a rerun returns at once."""
    # a triangle: [0,1,2] -> [1,0,0] -> [0,0,0] -> no change at step 3
    e = edge_df(spark, [(0, 1), (1, 2), (0, 2)])
    ck = str(tmp_path / "lp_ck")
    res = label_propagation(e, max_iterations=10, checkpoint_dir=ck, checkpoint_every=2)
    assert res.iterations == 3 and res.metrics[-1]["changed"] == 0
    assert last_complete_superstep(ck) == res.iterations
    again = label_propagation(e, max_iterations=10, checkpoint_dir=ck, checkpoint_every=2)
    assert again.resumed_from == res.iterations
    assert again.iterations == res.iterations
    assert [m["superstep"] for m in again.metrics] == [1, 2, 3]
    assert {r["id"]: r["label"] for r in again.state.collect()} == {0: 0, 1: 0, 2: 0}
