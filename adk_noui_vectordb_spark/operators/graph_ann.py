"""Navigable-graph index — the HNSW analog behind
``Collection.query(filter_strategy="graph")``.

The reference's actual vector index IS a navigable small-world graph:
ChromaDB's default index is hnswlib (coding_agent/tools/
vector_search_tool.py:42 queries it through ``collection.query``). Here
the graph is a pure function of one collection version's vectors:
``build_graph(ids, mat)`` computes it in numpy on the driver, and
``Collection`` memoizes it on the version's ``vecs/`` data-file names
(api/collection.py ``_graph``), so every graph query of one version
shares one build and nothing is written to disk. A commit that changes
the vectors writes new uuid-named files, so its first graph query
builds again — including a recommit that reuses a rolled-back
version's name. The beam search that serves the graph lives in
api/collection.py (``_graph_beam_batch``).

Construction — deterministic, and in the catalogue's exact arithmetic
so the DuckDB oracles (``__spark_entry__._graph_build_ctes``) replay it
in SQL:

- **Cells** (the coarse quantizer): c = ``derived_cell_count(n)``
  centroids trained by ``GRAPH_ITERS`` Lloyd's rounds over the
  md5(vec_id)-ranked sample of c × ``IVF_JOIN_TRAIN_PER_CELL`` rows,
  seeded by the sample's first c rows. Assignment is
  ``ann.nearest_centroids`` (argmin of round(d2, 6), cluster
  tie-break); centroid means are rounded to 6 dp. Every row then
  joins its nearest cell.
- **Layer 0** (the neighborhood graph): each nonzero vector's
  candidates are the nonzero members of its ``GRAPH_BUILD_NPROBE``
  nearest cells, at most ``IVF_JOIN_CELL_CAP`` per cell chosen by
  md5(vec_id); it keeps the top ``GRAPH_DEGREE`` by (4-dp cosine
  desc, nbr). Cell blocking keeps the work at about n × 2 × 128
  cosines instead of n².
- **Layer 1** (the express lanes — HNSW's upper layers): one HUB per
  cell (the md5-min nonzero member), each hub linked to its
  ``GRAPH_HUB_DEGREE`` nearest hubs by an exact all-pairs 4-dp cosine
  mesh over the c ≈ n/128 hubs, scored in blocks. Every nonzero member
  also gets a STAR bridge to its cell's hub: a k-NN mesh alone cannot
  cross sub-clusters that share one cell, and md5 hub selection is
  location-blind, so coverage is structural — each cell is one
  connected component by construction.
- **Bidirectional**: every edge is also stored reversed (cosine is
  symmetric), the reversals capped at ``IVF_JOIN_CELL_CAP`` per source
  by (sim desc, nbr). A k-NN digraph is not strongly connected (4-dp
  ties break toward low ids, so high-id members collect inbound edges
  only); HNSW links both ways for the same reason, and the cap keeps
  one popular hub from making a beam expansion unbounded.
- **Entry**: the md5-min hub. A query's seeds are the entry plus the
  hubs of its ``GRAPH_SEED_CELLS`` nearest cells (``_seed_hubs``).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from .ann import (
    IVF_JOIN_CELL_CAP,
    IVF_JOIN_TRAIN_PER_CELL,
    centroid_arrays,
    derived_cell_count,
    nearest_centroids,
)

GRAPH_DEGREE = 8
GRAPH_HUB_DEGREE = 8
# Lloyd's iterations of the sampled coarse quantizer
GRAPH_ITERS = 2
# r14 recall levers (mild-fixture unfiltered recall ~0.64-0.73 vs
# multiprobe 0.98; all three measured on the σ=0.25 mixture fixture,
# tools/collection_recall_sweep.py):
# - BUILD: layer-0 edge candidates come from each SOURCE's top-2 cells
#   (boundary vectors get their cross-cell true neighbors as edges; the
#   out-degree cap is unchanged, so edge VOLUME stays ~flat while edge
#   QUALITY jumps — sim study: 0.64 -> 0.80 at the old serve budget).
GRAPH_BUILD_NPROBE = 2
# - SERVE seeds: the global entry hub plus the hubs of the query's
#   GRAPH_SEED_CELLS nearest cells (was: 1 cell) — on noisy data the
#   true neighborhood straddles cells, and the beam can only descend
#   into regions it was given a door to (FAISS's nprobe, applied to the
#   graph's coarse layer). Measured on the mild facade fixture
#   (BASELINE.md r14): recall 0.89/0.92/0.94 at 3/4/5 cells, each cell
#   ~+120 visited vectors; 4 is the knee.
GRAPH_SEED_CELLS = 4
# - SERVE expansion stays UNCAPPED: a sim-ranked per-source expansion
#   cap was tried (HNSW's bounded neighbor list) and REJECTED by
#   measurement — a hub's star-reversal fan is a STRUCTURAL door into
#   its cell, and capping it to the hub's top-64 by sim severed whole
#   interleaved sub-clusters (tight fixture: 4/20 queries went 0/10;
#   uncapped: 1.00). Expansion volume is already bounded corpus-size-
#   independently by the build's per-source reversal cap
#   (IVF_JOIN_CELL_CAP) — O(beam x 256) rows per round, never O(n).
# Default search budget for the blind beam (hnswlib ef). Measured
# profile (mild facade fixture, BASELINE.md r14): recall 0.64 -> 0.92
# at beam 8 -> 12 (613 vs 241 mean visited). Tight fixture stays 1.00.
GRAPH_BEAM = 12
GRAPH_ROUNDS = 3
# The ACORN walk keeps r13's measured raise-ef-for-filters budget
# (BASELINE.md r13: beam 16 lifted 10%-selectivity recall to ~parity
# with multiprobe): the predicate thins the pool, so the opt-in pays a
# wider beam than the blind default.
GRAPH_ACORN_BEAM = 16
# cosines scored per block of the hub mesh (bounds its scratch memory)
_BLOCK = 1 << 22


def _lloyd(train, k: int) -> list:
    """Centroid rows [{cluster, c}] sorted by cluster: ``GRAPH_ITERS``
    Lloyd's rounds over the ``train`` rows (the md5-ranked sample),
    seeded by its first ``k`` rows as clusters 0..k-1. A cluster left
    without members drops out, so labels need not be contiguous."""
    import numpy as np

    from ..functions.vector import np_round4

    rows = [{"cluster": i, "c": train[i].tolist()} for i in range(min(k, len(train)))]
    for _ in range(GRAPH_ITERS):
        if not rows:
            break
        a = nearest_centroids(train, *centroid_arrays(rows))[:, 0]
        rows = [
            {"cluster": int(cl), "c": np_round4(train[a == cl].mean(axis=0), 6).tolist()}
            for cl in np.unique(a)
        ]
    return rows


def _top_per_src(src, nbr, sim, cap: int) -> tuple:
    """The (src, nbr, sim) rows that rank within the first ``cap`` of
    their src by (sim desc, nbr)."""
    import numpy as np

    if not len(src):
        return src, nbr, sim
    o = np.lexsort((nbr, -sim, src))
    src, nbr, sim = src[o], nbr[o], sim[o]
    first = np.r_[True, src[1:] != src[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(len(src)), 0))
    keep = np.arange(len(src)) - start < cap
    return src[keep], nbr[keep], sim[keep]


def _top_cols(rows, cols, sims, k: int) -> tuple:
    """(src, nbr, sim) edges from each column of ``sims`` (a block of
    4-dp cosines, ``rows`` ascending x ``cols``) to its top ``k`` rows
    by (sim desc, row); self pairs are never edges."""
    import numpy as np

    sims[rows[:, None] == cols[None, :]] = -np.inf
    top = np.argsort(-sims, axis=0, kind="stable")[:k]
    sim = np.take_along_axis(sims, top, axis=0)
    src = np.broadcast_to(cols, top.shape)
    ok = sim > -np.inf
    return src[ok], rows[top][ok], sim[ok]


def build_graph(ids, mat) -> tuple:
    """The navigable graph over the vectors ``mat`` (n x dim float64)
    keyed by ``ids`` (n int64), as the module doc builds it:
    (adjacency {id: int64 array of neighbor ids}, entry hub id — None
    when no vector is nonzero —, centroid rows [{cluster, c}] sorted by
    cluster, {cluster: hub id}). Deterministic: the same rows in any
    order give the same graph."""
    import hashlib

    import numpy as np

    from ..functions.vector import np_fold_sq, np_round4, np_scores

    ids = np.asarray(ids, np.int64)
    order = np.argsort(ids, kind="stable")
    # from here a row's position orders like its id, so every
    # (sim desc, nbr) tie-break below can rank positions
    ids, mat = ids[order], np.asarray(mat, np.float64)[order]
    n = len(ids)
    md = np.array([hashlib.md5(str(i).encode()).hexdigest() for i in ids.tolist()])
    by_md = np.lexsort((np.arange(n), md))
    c = derived_cell_count(n)
    cent_rows = _lloyd(mat[by_md[: c * IVF_JOIN_TRAIN_PER_CELL]], c)
    nz = np_fold_sq(mat) > 0
    if not nz.any():
        return {}, None, cent_rows, {}
    cents = centroid_arrays(cent_rows)
    cell = nearest_centroids(mat, *cents)[:, 0]
    # nonzero members grouped by cell, each group in md5 order: its
    # head is the hub, its first IVF_JOIN_CELL_CAP the neighbor side
    rank = np.empty(n, np.int64)
    rank[by_md] = np.arange(n)
    src = np.flatnonzero(nz)
    mem = src[np.lexsort((rank[src], cell[src]))]
    cells, heads = np.unique(cell[mem], return_index=True)
    groups = np.split(mem, heads[1:])
    hubs = np.array([g[0] for g in groups])
    # each nonzero source under each of its GRAPH_BUILD_NPROBE cells
    probes = nearest_centroids(mat[src], *cents, GRAPH_BUILD_NPROBE)
    pcell = probes.reshape(-1)
    psrc = np.repeat(src, probes.shape[1])
    o = np.argsort(pcell, kind="stable")
    pcell, psrc = pcell[o], psrc[o]
    lo = np.searchsorted(pcell, cells, "left")
    hi = np.searchsorted(pcell, cells, "right")

    def cos4(a, b):
        return np_round4(np_scores(mat[a], mat[b], "cosine"))

    parts = []  # (src, nbr, sim) position arrays
    for g, a, b in zip(groups, lo, hi):
        nbrs, cols = np.sort(g[:IVF_JOIN_CELL_CAP]), psrc[a:b]
        parts.append(_top_cols(nbrs, cols, cos4(nbrs, cols), GRAPH_DEGREE))
    l0 = _top_per_src(*(np.concatenate(x) for x in zip(*parts)), GRAPH_DEGREE)
    # stars: every nonzero member to its cell hub
    stars = [
        (g[1:], np.full(len(g) - 1, g[0]), cos4(g[1:], g[:1])[:, 0]) for g in groups
    ]
    # the hub mesh: exact all-pairs, in column blocks
    hs = np.sort(hubs)
    step = max(1, _BLOCK // len(hs))
    mesh = [
        _top_cols(hs, hs[j : j + step], cos4(hs, hs[j : j + step]), GRAPH_HUB_DEGREE)
        for j in range(0, len(hs), step)
    ]
    fs, fn, fsim = (np.concatenate(x) for x in zip(l0, *stars, *mesh))
    # one row per (src, nbr) pair: a pair's sim is the same whichever
    # class found it (one fold of the same two vectors)
    _, u = np.unique(fs * n + fn, return_index=True)
    fs, fn, fsim = fs[u], fn[u], fsim[u]
    rs, rn, _ = _top_per_src(fn, fs, fsim, IVF_JOIN_CELL_CAP)
    key = np.unique(np.concatenate([fs * n + fn, rs * n + rn]))
    es, en = key // n, key % n
    starts = np.flatnonzero(np.diff(es, prepend=-1))
    adj = dict(zip(ids[es[starts]].tolist(), np.split(ids[en], starts[1:])))
    entry = int(ids[hubs[np.argmin(rank[hubs])]])
    hub_of = {int(cl): int(ids[h]) for cl, h in zip(cells, hubs)}
    return adj, entry, cent_rows, hub_of


def _exact_d2_key(emb: list, crow: dict) -> tuple:
    """The assignment ranking key — d2 as a left-to-right double
    fold, 6-dp Decimal HALF_UP, cluster tie-break: the exact arithmetic
    of ``assign_to_centroids`` (ann.py ``nearest_centroids``),
    for the few centroid rows one query's seed-cell selection ranks."""
    c = crow["c"]
    ee = dot = cc = 0.0
    for x in emb:
        ee += x * x
    for x, y in zip(emb, c):
        dot += x * y
    for y in c:
        cc += y * y
    d2 = ee - 2 * dot + cc
    return (
        Decimal(repr(d2)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP),
        crow["cluster"],
    )


def _seed_hubs(cent_rows: list, hub_of: dict, q_emb: list) -> list:
    """Seed set for a beam search: the hubs of the query's
    ``GRAPH_SEED_CELLS`` nearest cells (exact assignment ranking over
    ``cent_rows``, the graph's centroids sorted by cluster; ``hub_of``
    maps cluster -> hub) — the multi-door fix for noise-straddled
    neighborhoods (module constants doc). The global entry hub is NOT
    included here — the caller unions it."""
    ranked = sorted(cent_rows, key=lambda r: _exact_d2_key(q_emb, r))
    out = []
    for r in ranked[:GRAPH_SEED_CELLS]:
        h = hub_of.get(r["cluster"])
        if h is not None and h not in out:
            out.append(h)
    return out
