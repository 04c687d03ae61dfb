"""Independent answers for every operator the benchmark times.

Each oracle reads only the graph's edge arrays (or the parquet export
of them) and shares no code with the engine, so a wrong engine answer
cannot also be the expected one:

* PageRank: numpy power iteration, the update rule documented in
  ``algorithms/pagerank.py``, compared with ``allclose`` at 1e-6;
* connected components: numpy union-find (min vertex id per
  component), exact;
* label propagation: numpy synchronous propagation with the
  smallest-label tie-break, exact;
* triangles and 4-cliques: DuckDB self-joins over the edge parquet.

Every answer is computed from the edge table it is handed, never
looked up by seed.
"""

from __future__ import annotations

import numpy as np

PAGERANK_RTOL = 1e-6


def pagerank(src: np.ndarray, dst: np.ndarray, iterations: int, damping: float = 0.85):
    """(ids, ranks) after ``iterations`` power-iteration steps from 1/N,
    dangling mass spread uniformly."""
    ids = np.union1d(src, dst)
    n = len(ids)
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        w = np.where(dangling, 0.0, r / np.where(dangling, 1.0, outdeg))
        msum = np.bincount(d, weights=w[s], minlength=n)
        r = (1.0 - damping) / n + damping * r[dangling].sum() / n + damping * msum
    return ids, r


def components(src: np.ndarray, dst: np.ndarray):
    """(ids, component) with component = smallest id reachable."""
    ids = np.union1d(src, dst)
    parent = np.arange(len(ids))
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    # pointer jumping over edge hooks: every edge pulls the larger root
    # under the smaller until no edge joins two roots
    while True:
        parent = _compress(parent)
        rs, rd = parent[s], parent[d]
        live = rs != rd
        if not live.any():
            break
        lo = np.minimum(rs[live], rd[live])
        hi = np.maximum(rs[live], rd[live])
        np.minimum.at(parent, hi, lo)
    return ids, ids[_compress(parent)]


def _compress(parent: np.ndarray) -> np.ndarray:
    while True:
        grand = parent[parent]
        if np.array_equal(grand, parent):
            return parent
        parent = grand


def label_propagation(src: np.ndarray, dst: np.ndarray, max_iterations: int):
    """(ids, labels, supersteps): synchronous rounds, each vertex takes
    the most frequent neighbour label, ties to the smallest label;
    stops after a round that changes nothing or at the cap."""
    ids = np.union1d(src, dst)
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    labels = ids.copy()
    steps = 0
    while steps < max_iterations:
        steps += 1
        lab = labels[s]
        # per (dst, label) counts, then per dst the max count with the
        # smallest label first
        order = np.lexsort((lab, d))
        dd, ll = d[order], lab[order]
        head = np.ones(len(dd), dtype=bool)
        head[1:] = (dd[1:] != dd[:-1]) | (ll[1:] != ll[:-1])
        starts = np.flatnonzero(head)
        cnt = np.diff(np.append(starts, len(dd)))
        gd, gl = dd[starts], ll[starts]
        best = np.lexsort((gl, -cnt, gd))
        first = np.ones(len(best), dtype=bool)
        first[1:] = gd[best][1:] != gd[best][:-1]
        pick = best[first]
        new = labels.copy()
        new[gd[pick]] = gl[pick]
        changed = int(np.count_nonzero(new != labels))
        labels = new
        if changed == 0:
            break
    return ids, labels, steps


def motif_counts(edge_parquet: str, cliques: bool = True) -> dict:
    """Triangles and (unless ``cliques`` is false) 4-cliques over the
    oriented (src < dst) edges."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(
            f"CREATE TEMP TABLE o AS SELECT src, dst FROM read_parquet('{edge_parquet}') "
            "WHERE src < dst"
        )
        triangles = con.execute(
            "SELECT count(*) FROM o ab JOIN o bc ON ab.dst = bc.src "
            "JOIN o ac ON ac.src = ab.src AND ac.dst = bc.dst"
        ).fetchone()[0]
        if not cliques:
            return {"triangles": int(triangles)}
        cliques4 = con.execute(
            "SELECT count(*) FROM o ab JOIN o bc ON ab.dst = bc.src "
            "JOIN o ac ON ac.src = ab.src AND ac.dst = bc.dst "
            "JOIN o cd ON cd.src = bc.dst "
            "JOIN o ad ON ad.src = ab.src AND ad.dst = cd.dst "
            "JOIN o bd ON bd.src = ab.dst AND bd.dst = cd.dst"
        ).fetchone()[0]
    finally:
        con.close()
    return {"triangles": int(triangles), "cliques4": int(cliques4)}
