"""Navigable graph (operators/graph_ann.py): ``build_graph``'s structural
invariants over the sf0.001 vectors, and the graph a ``Collection``
serves after add and delete commits. Walks use the Collection's graph
beam (api/collection.py ``_graph_beam_batch``), the one graph server."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from adk_noui_vectordb_spark.api.collection import Collection
from adk_noui_vectordb_spark.operators import ann
from adk_noui_vectordb_spark.operators import graph_ann as ga


def _vectors(path: str) -> tuple:
    """(vec_id, n x dim float64 embeddings) of an embeddings parquet."""
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    emb = t.column("embedding").combine_chunks()
    mat = emb.flatten().to_numpy().astype(np.float64).reshape(t.num_rows, -1)
    return t.column("vec_id").to_numpy(), mat


@pytest.fixture(scope="module")
def sf_graph(sf_dir):
    ids, mat = _vectors(os.path.join(sf_dir, "embeddings.parquet"))
    return ids, mat, ga.build_graph(ids, mat)


@pytest.fixture(scope="module")
def tight(tmp_path_factory):
    from tools.make_clustered_embeddings import make

    base = str(tmp_path_factory.mktemp("gann") / "tight")
    return _vectors(make(base, 1000, 10, 0.06))[1]


def _tight_collection(spark, root: str, emb) -> Collection:
    coll = Collection(spark, root)
    coll.add(
        spark.createDataFrame(
            [(f"v{i}", [float(x) for x in row]) for i, row in enumerate(emb)],
            "id string, embedding array<double>",
        )
    )
    return coll


def _top10(coll, q) -> list:
    return [
        r["id"]
        for r in coll.query(
            [float(x) for x in q], n_results=10, filter_strategy="graph"
        ).collect()
    ]


def _exact10(emb, q, live) -> set:
    cos = (emb @ q) / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    return {f"v{i}" for i in sorted(live, key=lambda i: (-round(cos[i], 4), f"v{i}"))[:10]}


def test_graph_edges_are_bidirectional_with_star_coverage(sf_graph):
    """Every nonzero vector must be REACHABLE: it has an out-edge, and
    each non-hub member has exactly one star bridge to its cell's hub
    (structural connectivity per cell — the measured failure mode was
    whole sub-clusters with inbound-only edges); the reversal cap keeps
    the hub's way back."""
    ids, mat, (adj, _entry, cents, hub_of) = sf_graph
    nz = ids[(mat != 0).any(axis=1)]
    # a singleton-cell hub has no same-cell partner and no star target,
    # but with derived c over the testdata corpora every cell has >= 2
    # nonzero members, so every vector is a source
    no_out = [int(v) for v in nz if len(adj.get(int(v), ())) == 0]
    assert not no_out, f"{len(no_out)} nonzero vectors have no outgoing edge"
    cell = ann.nearest_centroids(mat, *ann.centroid_arrays(cents))[:, 0]
    members = [
        (int(v), hub_of[int(c)])
        for v, c, ok in zip(ids, cell, (mat != 0).any(axis=1))
        if ok and int(v) != hub_of[int(c)]
    ]
    stars = sum(int(h in adj[m].tolist()) for m, h in members)
    assert stars == len(members), f"star bridges {stars} != non-hub members {len(members)}"
    back = sum(int(m in adj[h].tolist()) for m, h in members)
    assert back == len(members), f"hub links back {back} != {len(members)}"


def test_graph_index_fsck_invariants(sf_graph):
    """No dangling endpoint, no self-loop, out-degree within the
    structural bound, and the entry is a hub that has out-edges."""
    ids, _mat, (adj, entry, _cents, hub_of) = sf_graph
    known = set(ids.tolist())
    dangling = [s for s, nb in adj.items() if s not in known or not known.issuperset(nb.tolist())]
    assert not dangling, dangling[:5]
    loops = [s for s, nb in adj.items() if s in nb.tolist()]
    assert not loops, loops[:5]
    cap = ga.GRAPH_DEGREE + ga.GRAPH_HUB_DEGREE + 1 + ann.IVF_JOIN_CELL_CAP
    over = {s: len(nb) for s, nb in adj.items() if len(nb) > cap}
    assert not over, (over, cap)
    assert all(len(set(nb.tolist())) == len(nb) for nb in adj.values())
    assert entry in set(hub_of.values()) and len(adj[entry]) > 0


def test_graph_incremental_insert_serves_new_vectors(spark, tight, tmp_path):
    """An add commit's vectors are REACHABLE by the next graph query: a
    query at vector 3 ranks the batch's near-clones of it in its top-10,
    and the version's graph has every new vector as a node."""
    coll = _tight_collection(spark, str(tmp_path / "ins"), tight)
    _top10(coll, tight[3])  # the first version's graph
    rng = np.random.default_rng(11)
    clones = tight[3] + rng.normal(scale=0.01, size=(20, tight.shape[1]))
    coll.add(
        spark.createDataFrame(
            [(f"new{i}", [float(x) for x in row]) for i, row in enumerate(clones)],
            "id string, embedding array<double>",
        )
    )
    got = _top10(coll, tight[3])
    assert any(i.startswith("new") for i in got), got
    (adj, *_), _payload = coll._graph(coll._cur(), tight.shape[1])
    from adk_noui_vectordb_spark.api.collection import _sid_py

    assert all(_sid_py(f"new{i}") in adj for i in range(20))


def test_graph_delete_lifecycle(spark, tight, tmp_path):
    """Deleting a ROUTING-CRITICAL node (the query's own cell hub) plus
    another id: the next graph query never returns them, its top-10
    still matches exact cosine over the live rows, the version's graph
    no longer holds them (its cells get new hubs), and re-adding the
    hub's vector under a new id serves it at distance 0."""
    from adk_noui_vectordb_spark.api.collection import _sid_py

    coll = _tight_collection(spark, str(tmp_path / "del"), tight)
    dim = tight.shape[1]
    before = _top10(coll, tight[7])
    (adj0, _e, cents, hub_of), _ = coll._graph(coll._cur(), dim)
    cell = ann.nearest_centroids(tight[7:8], *ann.centroid_arrays(cents))[0, 0]
    hub = next(i for i in range(len(tight)) if _sid_py(f"v{i}") == hub_of[int(cell)])
    assert _sid_py(f"v{hub}") in adj0
    coll.delete(ids=[f"v{hub}", "v11"])
    after = _top10(coll, tight[7])
    assert f"v{hub}" not in after and "v11" not in after
    live = [i for i in range(len(tight)) if i not in (hub, 11)]
    assert len(set(after) & _exact10(tight, tight[7], live)) >= 9, (before, after)
    (adj1, entry1, _c, hub_of1), _ = coll._graph(coll._cur(), dim)
    gone = {_sid_py(f"v{hub}"), _sid_py("v11")}
    assert not gone & set(adj1)
    assert not any(gone & set(nb.tolist()) for nb in adj1.values())
    assert entry1 not in gone and not gone & set(hub_of1.values())
    coll.add(
        spark.createDataFrame(
            [("back", [float(x) for x in tight[hub]])],
            "id string, embedding array<double>",
        )
    )
    top = coll.query(
        [float(x) for x in tight[hub]], n_results=1, filter_strategy="graph"
    ).head()
    assert (top["id"], top["distance"]) == ("back", 0.0)
