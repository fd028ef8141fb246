"""Navigable-graph index (operators/graph_ann.py): build invariants,
the insert/delete lifecycle and fsck. Walks use the Collection's graph
beam (api/collection.py ``_graph_beam_batch``), the one graph server."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from adk_noui_vectordb_spark.operators import ann
from adk_noui_vectordb_spark.operators import graph_ann as ga


@pytest.fixture(scope="module")
def tight(spark, tmp_path_factory):
    from tools.make_clustered_embeddings import make

    base = str(tmp_path_factory.mktemp("gann") / "tight")
    make(base, 1000, 10, 0.06)
    emb = np.array(
        spark.read.parquet(base + "/embeddings.parquet")
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    return base, emb


def _pool(spark, root, cur, q, beam=ga.GRAPH_BEAM, rounds=ga.GRAPH_ROUNDS):
    """{graph id: 4-dp sim}: the visited pool of the Collection's graph
    beam over graph version ``cur`` for the raw query vector ``q``."""
    from adk_noui_vectordb_spark.api.collection import Collection

    coll = Collection(spark, root)
    return coll._graph_beam_batch(cur, [[float(x) for x in q]], beam, rounds)[0]


def _top10(pool, qid):
    """Top-10 of a pool by (sim desc, id), the query's own id excluded."""
    ranked = sorted(pool.items(), key=lambda kv: (-kv[1], kv[0]))
    return set([v for v, _s in ranked if v != qid][:10])


def _exact10(emb, qid):
    q = emb[qid]
    cos = (emb @ q) / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    n = len(emb)
    return set(
        sorted(
            (i for i in range(n) if i != qid),
            key=lambda i: (-round(cos[i], 4), i),
        )[:10]
    )


def test_graph_recursive_mesh_has_no_large_allpairs_level(
    spark, tight, tmp_path
):
    """VERDICT r12 next #1 done-criteria: forcing ``hub_allpairs_max``
    below the hub count makes the mesh RECURSE through the cell-blocked
    join (HNSW log-layering) instead of the all-pairs hub join. The
    frozen ``hub_mesh_levels`` witness the invariant: every level that
    exceeds the gate was cell-blocked (candidates ≤ c × CELL_CAP,
    linear), only the final level — ≤ the gate by construction — is
    all-pairs, and levels shrink strictly (termination). Recall on the
    tight fixture is unchanged vs the all-pairs build (measured 1.00
    over 8 queries; pinned at the same 0.95 floor as the r12 gate)."""
    import json

    base, emb = tight
    apm = 4
    cur = ga.build_graph_index(spark, base, hub_allpairs_max=apm)
    stats = json.load(open(os.path.join(cur, "build_stats.json")))
    levels = stats["hub_mesh_levels"]
    assert stats["hub_allpairs_max"] == apm
    assert len(levels) >= 2, levels  # the recursion actually fired
    assert all(c > apm for c in levels[:-1]), levels
    assert levels[-1] <= apm, levels
    assert all(a > b for a, b in zip(levels, levels[1:])), levels
    hits = tot = 0
    for qid in range(8):
        got = _top10(_pool(spark, str(tmp_path / "c"), cur, emb[qid]), qid)
        hits += len(got & _exact10(emb, qid))
        tot += 10
    assert hits / tot >= 0.95, hits / tot


def test_graph_default_build_stays_single_allpairs_level(spark, sf_dir):
    """Default gate (4096) at test scale: ONE mesh level, all-pairs —
    the historical behavior, byte-identical edge set (the r12 pins and
    the oracle sweep depend on the default path not moving)."""
    import json

    cur = ga.build_graph_index(spark, sf_dir)
    stats = json.load(open(os.path.join(cur, "build_stats.json")))
    assert len(stats["hub_mesh_levels"]) == 1, stats["hub_mesh_levels"]
    assert stats["hub_allpairs_max"] == ga.GRAPH_HUB_ALLPAIRS_MAX


def test_graph_index_fsck_invariants(spark, sf_dir):
    checks = ga.fsck_graph_index(spark, sf_dir)
    bad = [c for c in checks if not c[1]]
    assert not bad, bad


def test_graph_edges_are_bidirectional_with_star_coverage(spark, sf_dir):
    """Every nonzero vector must be REACHABLE: it has an outgoing star
    bridge to its cell hub, and the reversal cap keeps the hub's way
    back (structural connectivity per cell — the measured failure mode
    was whole sub-clusters with inbound-only edges)."""
    cur = ga.build_graph_index(spark, sf_dir)
    edges = spark.read.schema(ga.GRAPH_EDGES_SCHEMA).parquet(
        os.path.join(cur, "edges")
    )
    vecs = spark.read.schema(ann.VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    nz = vecs.filter(ann._nonzero_pred()).select("vec_id")
    no_out = nz.join(
        edges.select(F.col("src").alias("vec_id")).distinct(), "vec_id", "left_anti"
    ).count()
    # a singleton-cell hub has no same-cell partner and no star target,
    # but with derived c over the testdata corpora every cell has >= 2
    # nonzero members, so every vector is a source
    assert no_out == 0, f"{no_out} nonzero vectors have no outgoing edge"
    hubmap = spark.read.schema(ga.GRAPH_HUBMAP_SCHEMA).parquet(
        os.path.join(cur, "hubmap")
    )
    stars = edges.join(
        hubmap.select(
            F.col("vec_id").alias("src"), F.col("hub").alias("nbr")
        ).filter(F.col("src") != F.col("nbr")),
        ["src", "nbr"],
        "inner",
    ).count()
    expected = (
        hubmap.filter(F.col("vec_id") != F.col("hub"))
        .join(nz, "vec_id")
        .count()
    )
    assert stars == expected, f"star bridges {stars} != nonzero non-hub rows {expected}"


def test_graph_incremental_insert_serves_new_vectors(spark, tight, tmp_path):
    """update_graph_index (the HNSW add_items analog, frozen coarse
    structure): inserted vectors become REACHABLE — a query near the
    batch finds its batch neighbors — fsck stays green, the op is
    ADD-only, and existing adjacency rows are never rewritten (their
    partitions gain append files; reversals give old nodes doors to
    the new vectors)."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    base, emb = tight
    # private copy: an update makes the root represent corpus ∪ batch
    priv = str(tmp_path / "gupd")
    os.makedirs(priv)
    spark.read.parquet(base + "/embeddings.parquet").write.parquet(
        os.path.join(priv, "embeddings.parquet")
    )
    cur0 = ga.build_graph_index(spark, priv)
    # batch: 20 clones-with-noise of vector 3's neighborhood
    rng = np.random.default_rng(11)
    v3 = emb[3]
    rows = [
        (50_000 + i, [float(x) for x in (v3 + rng.normal(scale=0.01, size=len(v3)))])
        for i in range(20)
    ]
    batch = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cur1 = ga.update_graph_index(spark, priv, batch)
    assert cur1 != cur0

    # the query at vec 3 now ranks batch members in its top-10
    got = _top10(_pool(spark, str(tmp_path / "c"), cur1, v3), 3)
    assert any(v >= 50_000 for v in got), got

    checks = {c[0]: (c[1], c[2]) for c in ga.fsck_graph_index(spark, priv)}
    bad = {k: v for k, v in checks.items() if not v[0]}
    assert not bad, bad

    # replay idempotence: resubmitting the IDENTICAL batch is a no-op
    # (the streaming crash-window contract) — same version, no commit
    assert ga.update_graph_index(spark, priv, batch) == cur1
    # but PARTIAL overlap is a real conflict: ADD-only raises
    import pytest as _pt

    mixed = spark.createDataFrame(
        [(50_000, rows[0][1]), (60_000, rows[1][1])],
        "vec_id bigint, embedding array<double>",
    )
    with _pt.raises(ValueError, match="ADD-only"):
        ga.update_graph_index(spark, priv, mixed)


def test_graph_delete_lifecycle(spark, tight, tmp_path):
    """delete_from_graph_index on a private root: unknown ids raise,
    identical-batch replay no-ops, partial overlap raises, deleting a
    ROUTING-CRITICAL node (the query's own cell hub) leaves traversal
    untouched (visited set identical — the reason mark-delete never
    rips nodes out), an insert after a delete carries tombstones
    through (no resurrection), and fsck's tombstone checks hold."""
    base, _emb = tight
    priv = str(tmp_path / "gdel")
    os.makedirs(priv)
    spark.read.parquet(base + "/embeddings.parquet").write.parquet(
        os.path.join(priv, "embeddings.parquet")
    )
    cur0 = ga.build_graph_index(spark, priv)
    with pytest.raises(ValueError, match="not in the index"):
        ga.delete_from_graph_index(spark, priv, [999_999])

    # the query's regional door — the worst node to lose
    hub = (
        spark.read.schema(ga.GRAPH_HUBMAP_SCHEMA)
        .parquet(os.path.join(cur0, "hubmap"))
        .filter(F.col("vec_id") == 7)
        .head()["hub"]
    )
    root = str(tmp_path / "c")
    before = _pool(spark, root, cur0, _emb[7], beam=8, rounds=3)
    cur1 = ga.delete_from_graph_index(spark, priv, [hub, 11])
    assert cur1 != cur0
    after = _pool(spark, root, cur1, _emb[7], beam=8, rounds=3)
    assert after == before  # tombstoned nodes still route
    assert hub in before
    assert ga._tombstoned_among(cur1, [hub, 11, 7]) == {hub, 11}

    # replay no-op / partial overlap raises
    assert ga.delete_from_graph_index(spark, priv, [hub, 11]) == cur1
    with pytest.raises(ValueError, match="already tombstoned"):
        ga.delete_from_graph_index(spark, priv, [11, 13])

    # an insert commit must CARRY the tombstones (no resurrection)
    batch = spark.createDataFrame(
        [(70_000, [float(x) for x in _emb[3]])],
        "vec_id bigint, embedding array<double>",
    )
    cur2 = ga.update_graph_index(spark, priv, batch)
    assert ga._tombstoned_among(cur2, [hub, 11]) == {hub, 11}

    checks = {c[0]: (c[1], c[2]) for c in ga.fsck_graph_index(spark, priv)}
    assert checks["tombstones_name_indexed_vectors"][0], checks
    assert checks["tombstone_fraction_bounded"][0], checks
    bad = {k: v for k, v in checks.items() if not v[0]}
    assert not bad, bad


def test_graph_drift_detection(spark, tmp_path):
    """The graph's drift advisory: streamed inserts of a far region
    under the FROZEN coarse structure fire fsck's coarse-drift check,
    whose detail names the remedy (a full rebuild, which the Collection
    sidecar takes by staging a fresh scratch corpus)."""
    import numpy as np

    rng = np.random.default_rng(21)
    dim = 8
    centers = rng.normal(size=(4, dim))
    rows_a = [
        (i, [float(x) for x in (centers[i % 4] + rng.normal(scale=0.05, size=dim))])
        for i in range(200)
    ]
    far = rng.normal(size=dim) * 10.0
    rows_b = [
        (1000 + i, [float(x) for x in (far + rng.normal(scale=0.05, size=dim))])
        for i in range(100)
    ]
    base = str(tmp_path / "gdrift")
    os.makedirs(base)
    schema = "vec_id bigint, embedding array<double>"
    spark.createDataFrame(rows_a, schema).write.parquet(
        os.path.join(base, "embeddings.parquet")
    )
    ga.build_graph_index(spark, base)
    checks0 = {c[0]: (c[1], c[2]) for c in ga.fsck_graph_index(spark, base)}
    assert checks0["coarse_drift"][0] is True, checks0["coarse_drift"]

    ga.update_graph_index(spark, base, spark.createDataFrame(rows_b, schema))
    ga.delete_from_graph_index(spark, base, [7])
    checks1 = {c[0]: (c[1], c[2]) for c in ga.fsck_graph_index(spark, base)}
    assert checks1["coarse_drift"][0] is False, checks1["coarse_drift"]
    assert "rebuild the graph" in checks1["coarse_drift"][1]
    assert checks1["tombstones_name_indexed_vectors"][0], checks1
