"""Navigable-graph index — the HNSW analog behind
``Collection.query(filter_strategy="graph")``.

The reference's actual vector index IS a navigable small-world graph:
ChromaDB's default index is hnswlib (coding_agent/tools/
vector_search_tool.py:42 queries it through ``collection.query``). This
module builds, grows, tombstones and checks the Collection's graph
sidecar (api/collection.py ``_graph_sidecar``): a batch-built k-NN
GRAPH persisted as a versioned index over a staged scratch corpus. The
beam search that serves it lives in api/collection.py
(``_graph_beam_batch``), which reads the immutable graph version on
the driver like every other Collection read.

Design (Spark-first, not an hnswlib port):

- **Layer 0** (the neighborhood graph): the ``knn_join_ivf_topk`` cell
  join's edges (operators/ann.py) at ``GRAPH_DEGREE`` neighbors per
  vector — IVF-cell-blocked construction is the batch analog of HNSW's
  incremental insert-time neighbor selection (NN-Descent-style blocked
  builds are the standard MapReduce construction; cost is linear in n
  via the derived cell count + per-cell cap).
- **Layer 1** (the express lanes — HNSW's upper layers): one HUB per
  IVF cell (the md5-min nonzero member — deterministic, the house
  md5-selection discipline), each hub linked to its
  ``GRAPH_HUB_DEGREE`` nearest hubs by exact 4-dp cosine. Hubs give
  greedy search the long-range jumps that pure same-cell edges lack
  (same-cell-only adjacency is DISCONNECTED across cells). Hub-mesh
  construction is RECURSIVE (HNSW's log-layering, Spark-first): while
  the level's hub count c exceeds ``hub_allpairs_max``, the level is
  meshed by the SAME cell-blocked pipeline as layer 0 (sampled Lloyd's
  over the level at max(2, ceil(c/128)) cells, same-cell capped kNN,
  md5-min next-level hubs, star bridges up), and only the final level —
  guaranteed ≤ hub_allpairs_max — is all-pairs. Every level's
  candidate volume is ≤ c × IVF_JOIN_CELL_CAP (linear in the level
  size) and levels shrink ×~128, so total build cost is O(n + n/128 +
  …) = O(n). Level sizes are frozen into
  ``build_stats.json["hub_mesh_levels"]`` so tests and fsck can assert
  the invariant.
- **One unified edge set, BIDIRECTIONAL**: layer-0 ∪ layer-1 edges ∪
  their reversals (capped per source — see the build comment; a k-NN
  digraph is not strongly connected, HNSW links both ways for the same
  reason) in one ``edges/`` component partitioned by ``sbucket`` (md5
  bucket of src); each edge row carries its neighbor's embedding, so a
  beam round reads only the frontier's sbucket partitions.
- **Entry point**: the two md5-smallest hubs persisted at build time
  (``entry/``); ``cents/`` + ``cellhubs/`` give the beam its seed doors
  (the hubs of the query's ``GRAPH_SEED_CELLS`` nearest cells).

Lifecycle: ``build_graph_index`` (full build, content-addressed root),
``update_graph_index`` (ADD-only insert under the frozen coarse
structure), ``delete_from_graph_index`` (mark-delete tombstones that
keep routing) and ``fsck_graph_index`` (structural invariants plus the
coarse-drift and tombstone advisories; the remedy for either is a full
rebuild, which the sidecar takes by staging a fresh scratch corpus).

100 TB shape: build = one cell join (linear, capped) + one hub join;
a beam round reads ≤ beam × (out-degree) edge rows — corpus-size-
independent, like every serving probe in the ANN family.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..sources import versioning as vn
from ..sources.tables import load_table
from .ann import (
    IVF_ASSIGN_SCHEMA,
    IVF_JOIN_CELL_CAP,
    IVF_JOIN_TARGET_CELL,
    IVF_JOIN_TRAIN_PER_CELL,
    N_VEC_BUCKETS,
    VECS_SCHEMA,
    _nonzero_pred,
    build_ivf_index_sampled,
    derived_cell_count,
    knn_join_ivf_topk,
    vec_bucket_expr,
    vec_bucket_py,
)

GRAPH_DEGREE = 8
GRAPH_HUB_DEGREE = 8
# Lloyd's iterations of the sampled coarse quantizer (and of each
# recursive hub level)
GRAPH_ITERS = 2
# fsck_graph_index's coarse-drift advisory fires when the mean squared
# residual to the frozen centroids grows past RESIDUAL x its build-time
# value, or the largest cell holds more than SKEW x an even share.
DRIFT_RESIDUAL_THRESHOLD = 1.5
DRIFT_SKEW_THRESHOLD = 3.0
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
# Hub-mesh recursion gate: a level with more hubs than this is meshed by
# the cell-blocked pipeline (one more recursion level) instead of the
# all-pairs join. 4096² = 16.8M candidate pairs is a trivially cheap
# single-stage job, while the next level is ~4096/128 = 32 — so the
# default keeps every test-scale build on the historical all-pairs path
# (byte-identical indexes) and caps the largest all-pairs block any
# build can ever run.
GRAPH_HUB_ALLPAIRS_MAX = 4096
# The recursion's derived-cell floor: max(2, ceil(c/128)) cells per
# level. 2, not the corpus-level IVF_JOIN_MIN_CENTROIDS=8 — a hub level
# exists only to SHRINK (next level = its cell count), and a floor of 8
# would stall the recursion at c <= 8 instead of converging to the
# all-pairs-small top.
GRAPH_HUB_RECURSE_MIN_CELLS = 2
# Edge rows CARRY the neighbor's embedding (nemb), so a beam round's
# adjacency read is also its vector read: one sbucket partition per
# frontier bucket instead of an edges read plus a vecs read (HNSW's
# trade of storage for lookups). vecs/ stays the store of record; nemb
# is a frozen copy, safe because ids are never updated in place (insert
# is ADD-only, delete is tombstone). Storage cost: ~out-degree copies of
# each vector in edges/.
GRAPH_EDGES_SCHEMA = (
    "src bigint, nbr bigint, sim double, nemb array<double>, sbucket int"
)
GRAPH_ENTRY_SCHEMA = "rk int, vec_id bigint"
GRAPH_HUBMAP_SCHEMA = "vec_id bigint, hub bigint, vbucket int"
GRAPH_CELLHUBS_SCHEMA = "cluster int, hub bigint"
GRAPH_TOMB_SCHEMA = "vec_id bigint, vbucket int"
GRAPH_COMPONENTS = [
    ("edges", ["sbucket"]),
    ("entry", []),
    ("hubmap", ["vbucket"]),
    ("cellhubs", []),
    ("vecs", ["vbucket"]),
    ("assign", ["cluster"]),
    ("cents", []),
    ("tomb", ["vbucket"]),
]


def graph_index_root(
    sf_dir: str, hub_allpairs_max: int = GRAPH_HUB_ALLPAIRS_MAX
) -> str:
    from ..memo import index_root

    # a non-default recursion gate changes the EDGE SET, so it is a
    # different index; the default keeps the key without it
    extra = ()
    if hub_allpairs_max != GRAPH_HUB_ALLPAIRS_MAX:
        extra = ("apm", hub_allpairs_max)
    return index_root(
        "graph_ann", sf_dir, *extra, GRAPH_DEGREE, GRAPH_HUB_DEGREE,
        GRAPH_ITERS,
        IVF_JOIN_TARGET_CELL, IVF_JOIN_CELL_CAP, IVF_JOIN_TRAIN_PER_CELL,
        N_VEC_BUCKETS,
        # r14: nprobe-2 layer-0 candidates + the cellhubs component —
        # unconditionally in the key so every pre-r14 cached version is
        # invalidated (its edge set AND its component list are stale)
        "np", GRAPH_BUILD_NPROBE,
        # edges layout token: version 2 carries (src, nbr, sim, nemb)
        # and no neighbor label — earlier layouts must not resolve
        "ne", 2,
    )


def _allpairs_mesh(hv: DataFrame) -> DataFrame:
    """Exact top-``GRAPH_HUB_DEGREE`` mesh over a SMALL (vec_id, emb) level —
    the recursion's base case, only ever run on a level whose size the
    caller has verified ≤ ``hub_allpairs_max``."""
    from pyspark.sql.window import Window

    a = hv.select(F.col("vec_id").alias("src"), F.col("emb").alias("se"))
    b = hv.select(F.col("vec_id").alias("nbr"), F.col("emb").alias("ne"))
    hsim = F.round(cosine_similarity(F.col("se"), F.col("ne")), 4)
    wr = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("nbr"))
    return (
        a.join(b, a["src"] != b["nbr"])
        .select("src", "nbr", hsim.alias("sim"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= GRAPH_HUB_DEGREE)
        .select("src", "nbr", "sim")
    )


def _hub_mesh_edges(
    hv: DataFrame, hub_allpairs_max: int, level_sizes: list
) -> DataFrame:
    """Mesh one hub LEVEL (module doc "Layer 1"): all-pairs when the
    level is small, else ONE recursion step of the cell-blocked
    pipeline — sampled Lloyd's over the level at max(2, ceil(c/128))
    cells, same-cell md5-capped kNN at ``GRAPH_HUB_DEGREE``, md5-min
    next-level hubs with star bridges up, and the next level meshed
    recursively. Appends each level's size to ``level_sizes`` (frozen
    into build_stats.json). Returns (src, nbr, sim) over this level's
    ids ∪ all upper levels' — the caller's reversal cap makes them
    bidirectional exactly like every other edge class."""
    from pyspark.sql.window import Window

    from .ann import (
        _sampled_centroid_rows,
        assign_to_centroids,
        cap_bucket_members,
    )

    c = hv.count()
    level_sizes.append(int(c))
    rc = derived_cell_count(
        c, min_centroids=GRAPH_HUB_RECURSE_MIN_CELLS
    )
    # base case: small enough for exact all-pairs — or (safety) no
    # reduction is possible, which cannot happen for c > allpairs_max
    # ≥ 2 but guards a pathological override against infinite recursion
    if c <= hub_allpairs_max or rc >= c:
        return _allpairs_mesh(hv)
    cent_rows = _sampled_centroid_rows(
        hv.select("vec_id", "emb"), rc, GRAPH_ITERS, IVF_JOIN_TRAIN_PER_CELL
    )
    assign = assign_to_centroids(
        hv.select("vec_id", "emb"), cent_rows
    ).localCheckpoint(eager=True)
    # same-cell capped kNN — the knn_join_ivf_topk shape one level up:
    # candidates ≤ c × IVF_JOIN_CELL_CAP, linear in the level size
    l = assign.select(F.col("vec_id").alias("src"), "cluster")
    r = cap_bucket_members(assign, IVF_JOIN_CELL_CAP).select(
        F.col("vec_id").alias("nbr"), "cluster"
    )
    cand = (
        l.join(r, "cluster")
        .filter(F.col("src") != F.col("nbr"))
        .select("src", "nbr")
    )
    es = hv.select(F.col("vec_id").alias("src"), F.col("emb").alias("se"))
    en = hv.select(F.col("vec_id").alias("nbr"), F.col("emb").alias("ne"))
    sim = F.round(cosine_similarity(F.col("se"), F.col("ne")), 4)
    wr = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("nbr"))
    knn = (
        cand.join(es, "src")
        .join(en, "nbr")
        .select("src", "nbr", sim.alias("sim"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= GRAPH_HUB_DEGREE)
        .select("src", "nbr", "sim")
    )
    # next level: md5-min member per cell (the hub-selection
    # discipline), star bridges so every hub has a door to its level-up
    # representative — the same structural-connectivity argument as the
    # corpus-level star (see build_graph_index)
    md = F.md5(F.col("vec_id").cast("string"))
    wh = Window.partitionBy("cluster").orderBy(md.alias("md"), F.col("vec_id"))
    nxt = (
        assign.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") == 1)
        .select("cluster", "vec_id")
    )
    nxt_v = nxt.join(hv.select("vec_id", "emb"), "vec_id").localCheckpoint(
        eager=True
    )
    star = (
        assign.join(
            nxt.select("cluster", F.col("vec_id").alias("hub")), "cluster"
        )
        .filter(F.col("vec_id") != F.col("hub"))
        .join(hv.select("vec_id", F.col("emb").alias("me")), "vec_id")
        .join(
            nxt_v.select(F.col("vec_id").alias("hub"), F.col("emb").alias("he")),
            "hub",
        )
        .select(
            F.col("vec_id").alias("src"),
            F.col("hub").alias("nbr"),
            F.round(cosine_similarity(F.col("me"), F.col("he")), 4).alias(
                "sim"
            ),
        )
    )
    upper = _hub_mesh_edges(
        nxt_v.select("vec_id", "emb"), hub_allpairs_max, level_sizes
    )
    return knn.unionByName(star).unionByName(upper)


def build_graph_index(
    spark: SparkSession,
    sf_dir: str,
    hub_allpairs_max: int = GRAPH_HUB_ALLPAIRS_MAX,
) -> str:
    """Build (or resolve) the versioned k-NN graph index over
    ``sf_dir``'s embeddings. Components: ``edges/sbucket=*`` (src, nbr,
    sim, nemb — layer-0 cell-join edges ∪ hub mesh ∪ star bridges ∪
    capped reversals), ``entry/`` (the two md5-smallest hubs),
    ``cellhubs/`` + ``cents/`` (the seed doors), ``hubmap/`` +
    ``assign/`` (the frozen coarse structure inserts assign under), and
    ``vecs/`` (hardlinked from the sampled-IVF version the edges were
    derived from — the corpus-of-record). Returns the current version
    dir."""
    from pyspark.sql.window import Window

    root = graph_index_root(sf_dir, hub_allpairs_max)
    cur = vn.current_dir(root)
    if cur is not None:
        return cur

    # layer 0: the cell join's k-NN edges at graph degree — candidates
    # from each source's top-GRAPH_BUILD_NPROBE cells (boundary vectors
    # get cross-cell true neighbors; out-degree cap unchanged)
    edges0 = knn_join_ivf_topk(
        spark, sf_dir, k=GRAPH_DEGREE, iters=GRAPH_ITERS,
        src_nprobe=GRAPH_BUILD_NPROBE,
    ).select("src", "nbr", "sim")

    # the SAME sampled-IVF version the cell join built/used
    emb_t = load_table(spark, sf_dir, "embeddings")
    n = emb_t.count()
    c = derived_cell_count(n)
    assign_p, _cents = build_ivf_index_sampled(
        spark, sf_dir, c, GRAPH_ITERS, IVF_JOIN_TRAIN_PER_CELL
    )
    ver = os.path.dirname(assign_p)
    assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(assign_p)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ver, "vecs"))
    nz = vecs.filter(_nonzero_pred()).select("vec_id")

    # layer 1: md5-min nonzero member per cell, linked to its
    # GRAPH_HUB_DEGREE nearest hubs by exact 4-dp cosine (all-pairs over c
    # hubs — c ∝ n/128; at extreme n this layer recurses through the
    # cell join, see module doc)
    md = F.md5(F.col("vec_id").cast("string"))
    wh = Window.partitionBy("cluster").orderBy(md.alias("md"), F.col("vec_id"))
    hubs = (
        assign.join(nz, "vec_id")
        .withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") == 1)
        .select("cluster", "vec_id")
    )
    hv = hubs.join(vecs.select("vec_id", "emb"), "vec_id").localCheckpoint(
        eager=True
    )
    # per-cell STAR bridges: every nonzero member links to its cell's
    # hub. A k-NN mesh alone cannot cross sub-clusters that share one
    # IVF cell (the fixture's interleaved clusters produced isolated
    # 100-node components — measured before this edge class existed),
    # and md5 hub selection is location-blind, so coverage must be
    # STRUCTURAL: the star makes each cell one connected component by
    # construction — the deterministic analog of HNSW's random level
    # promotion guaranteeing every region an upper-layer door. The
    # reversal stage below returns hub→member links (capped), so a
    # beam landing on a hub can fan out to its whole cell.
    star = (
        assign.join(nz, "vec_id")
        .join(
            hubs.select("cluster", F.col("vec_id").alias("hub")), "cluster"
        )
        .filter(F.col("vec_id") != F.col("hub"))
        .join(
            vecs.select("vec_id", F.col("emb").alias("me")), "vec_id"
        )
        .join(
            hv.select(
                F.col("vec_id").alias("hub"), F.col("emb").alias("he")
            ),
            "hub",
        )
        .select(
            F.col("vec_id").alias("src"),
            F.col("hub").alias("nbr"),
            F.round(cosine_similarity(F.col("me"), F.col("he")), 4).alias(
                "sim"
            ),
        )
    )
    # hub mesh: all-pairs only when the hub level is small; RECURSIVE
    # cell-blocked meshing above hub_allpairs_max (module doc Layer 1 —
    # the r12 verdict's one quadratic term, killed in r13). level_sizes
    # freezes into build_stats so the no-all-pairs-over-large-levels
    # invariant is assertable after the fact.
    mesh_levels: list = []
    hedges = _hub_mesh_edges(
        hv.select("vec_id", "emb"), hub_allpairs_max, mesh_levels
    )

    # BIDIRECTIONAL links (the HNSW discipline): a k-NN DIGRAPH is not
    # strongly connected — 4-dp sim ties break toward low vec_ids, so
    # high-id cluster members collect inbound edges only and whole
    # regions become unreachable from the entry (measured: 618/1000
    # reachable, recall capped at 0.76 on the tight fixture). Reverse
    # every edge (cosine is symmetric, so the sim rides along), capped
    # at IVF_JOIN_CELL_CAP per source (sim desc, nbr tie-break) so a
    # popularity hub in a skewed cell cannot make one beam expansion
    # fetch an unbounded list.
    fwd = edges0.unionByName(hedges).unionByName(star).distinct()
    rev = fwd.select(
        F.col("nbr").alias("src"), F.col("src").alias("nbr"), "sim"
    )
    wcap = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("nbr"))
    rev = (
        rev.withColumn("rk", F.row_number().over(wcap))
        .filter(F.col("rk") <= IVF_JOIN_CELL_CAP)
        .select("src", "nbr", "sim")
    )
    edges = (
        fwd.unionByName(rev)
        .distinct()
        .withColumn("sbucket", vec_bucket_expr(F.col("src")))
    )
    # attach the neighbor payload (GRAPH_EDGES_SCHEMA doc): emb from the
    # same vecs store — LEFT join so a hypothetically dangling edge
    # keeps its row with a null payload (the beam skips it)
    npay = vecs.select(F.col("vec_id").alias("nbr"), F.col("emb").alias("nemb"))
    edges = edges.join(npay, "nbr", "left").select(
        "src", "nbr", "sim", "nemb", "sbucket"
    )
    entry = (
        hv.select("vec_id", md.alias("md"))
        .orderBy("md", "vec_id")
        .limit(2)
        .select(
            (F.row_number().over(Window.orderBy("md", "vec_id")))
            .cast("int")
            .alias("rk"),
            "vec_id",
        )
    )
    # hubmap: every vector's cell hub, partitioned by the vector's OWN
    # md5 vbucket — the insert path's ADD-only guard and cell-hub lookup
    # read it (assign/ partitions by cluster, which an id lookup does
    # not know yet).
    hubmap = (
        assign.join(
            hubs.select("cluster", F.col("vec_id").alias("hub")), "cluster"
        )
        .select(
            "vec_id", "hub", vec_bucket_expr(F.col("vec_id")).alias("vbucket")
        )
    )
    # freeze the coarse-structure snapshot the drift advisory compares
    # against (the IVF-family build_stats discipline): inserts assign
    # under FROZEN centroids and hubs forever, so a drifting corpus
    # degrades beam routing invisibly without this baseline
    import json as _json

    from .ann import _ivf_stats_of

    cent_rows = sorted(
        (
            {"cluster": r["cluster"], "c": list(r["c"])}
            for r in spark.read.parquet(os.path.join(ver, "cents")).collect()
        ),
        key=lambda r: r["cluster"],
    )
    stats = _ivf_stats_of(vecs.select("vec_id", "emb"), assign, cent_rows)
    stats["hub_mesh_levels"] = mesh_levels
    stats["hub_allpairs_max"] = int(hub_allpairs_max)
    try:
        vn.commit_version(
            spark,
            root,
            [
                vn.Component("edges", ("sbucket",), frozenset(), (edges,)),
                vn.Component("entry", (), writes=(entry,)),
                vn.Component("hubmap", ("vbucket",), frozenset(), (hubmap,)),
                # cluster -> hub, c rows: the serve-time seed lookup
                # (top-GRAPH_SEED_CELLS cells by query distance -> their
                # hubs) — read once per (session, version) like
                # entry/cents, never per query
                vn.Component(
                    "cellhubs",
                    (),
                    writes=(
                        hubs.select(
                            F.col("cluster").cast("int").alias("cluster"),
                            F.col("vec_id").alias("hub"),
                        ),
                    ),
                ),
                # the corpus-of-record, hardlinked from the IVF version
                vn.Component("vecs", link_from=os.path.join(ver, "vecs")),
                # frozen coarse structure for the INSERT path
                # (update_graph_index assigns new vectors under these
                # frozen centroids)
                vn.Component("assign", link_from=assign_p),
                vn.Component("cents", link_from=os.path.join(ver, "cents")),
            ],
            expected=None,
            extra_files={"build_stats.json": _json.dumps(stats)},
        )
    except vn.ConcurrentWriterError:
        pass  # a racing builder won; serve its identical version
    return vn.current_dir(root)


def _exact_d2_key(emb: list, crow: dict) -> tuple:
    """The frozen-assignment ranking key — d2 as a left-to-right double
    fold, 6-dp Decimal HALF_UP, cluster tie-break: the exact arithmetic
    of ``assign_to_centroids`` (ann.py `_assign_broadcast.exact_key`),
    reproduced driver-side so seed-cell selection for ONE query needs no
    Spark job."""
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
    ``GRAPH_SEED_CELLS`` nearest cells (exact frozen-assignment ranking
    over ``cent_rows``, the version's cents sorted by cluster; ``hub_of``
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


def update_graph_index(
    spark: SparkSession,
    sf_dir: str,
    new_vecs: DataFrame,
) -> str:
    """Incremental INSERT into the navigable graph — the HNSW
    ``add_items`` analog under the frozen-coarse-structure discipline:
    centroids and hubs do NOT move; the
    batch assigns to existing cells in one frozen pass, links to its
    top-``GRAPH_DEGREE`` same-cell neighbors (md5-capped candidates, the
    build's skew guard, over existing ∪ batch members of the touched
    cells only), star-bridges to its cell hub, and every new edge also
    lands REVERSED — so existing nodes gain doors to the new vectors
    without rewriting their stored adjacency rows (bidirectional
    reachability, the property beam search actually needs; HNSW's
    neighbor-list repair/pruning is deferred to the rebuild, exactly
    like centroid drift — ``fsck_graph_index``'s degree bound stays
    intact because reversals were always capped-side extras).

    ADD-only: a vec_id already present raises (a true vector UPDATE
    would have to retract its scattered in-edges, which the
    src-partitioned layout cannot prune; hnswlib makes the same trade
    with mark-delete). Cost: O(batch × cell population of touched
    cells) — corpus-size-independent. One CAS commit: edges append
    into touched sbucket partitions, vecs/assign/hubmap append,
    entry/cents hardlink through."""
    from pyspark.sql.window import Window

    cur = build_graph_index(spark, sf_dir)
    root = os.path.dirname(cur)

    emb_col = "embedding" if "embedding" in new_vecs.columns else "emb"
    batch = (
        new_vecs.select(
            "vec_id", F.col(emb_col).cast("array<double>").alias("emb")
        )
        .dropDuplicates(["vec_id"])
        .filter(_nonzero_pred())
        .localCheckpoint(eager=True)
    )
    if not batch.head(1):
        return cur
    # ADD-only guard: point-pruned hubmap lookup of the batch ids
    vbs = sorted(
        r["b"]
        for r in batch.select(vec_bucket_expr(F.col("vec_id")).alias("b"))
        .distinct()
        .collect()
    )
    hubmap = spark.read.schema(GRAPH_HUBMAP_SCHEMA).parquet(
        os.path.join(cur, "hubmap")
    )
    n_batch = batch.count()
    present = (
        hubmap.filter(F.col("vbucket").isin(vbs))
        .join(batch.select("vec_id"), "vec_id", "leftsemi")
        .count()
    )
    if present == n_batch:
        # the WHOLE batch is already indexed: an at-least-once replay
        # (crash between commit and the stream's marker) — idempotent
        # no-op, the streaming-recovery requirement
        return cur
    if present:
        raise ValueError(
            f"update_graph_index is ADD-only; {present}/{n_batch} batch "
            f"ids already present (rebuild to replace)"
        )

    cent_rows = sorted(
        (
            {"cluster": r["cluster"], "c": list(r["c"])}
            for r in spark.read.parquet(os.path.join(cur, "cents")).collect()
        ),
        key=lambda r: r["cluster"],
    )
    from .ann import assign_to_centroids, assign_topn_to_centroids

    basgn = assign_to_centroids(batch.select("vec_id", "emb"), cent_rows).localCheckpoint(
        eager=True
    )
    # candidate PROBES mirror the build's nprobe discipline (a boundary
    # insert links into its adjacent cell too); membership/star/hubmap
    # stay the rn=1 assignment
    basgn2 = assign_topn_to_centroids(
        batch.select("vec_id", "emb"), cent_rows, GRAPH_BUILD_NPROBE
    ).localCheckpoint(eager=True)
    cells = sorted(
        r["cluster"] for r in basgn2.select("cluster").distinct().collect()
    )
    # candidate neighbors: md5-top-cap of (existing ∪ batch) members of
    # the touched cells — the build's cap_bucket_members discipline,
    # recomputed over the union so ranking stays deterministic
    assign = (
        spark.read.schema(IVF_ASSIGN_SCHEMA)
        .parquet(os.path.join(cur, "assign"))
        .filter(F.col("cluster").isin(cells))
    )
    union_members = assign.unionByName(basgn)
    from .ann import cap_bucket_members

    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    all_vecs = vecs.select("vec_id", "emb").unionByName(batch)
    cand_members = cap_bucket_members(union_members, IVF_JOIN_CELL_CAP)
    cand = (
        basgn2.select(F.col("vec_id").alias("src"), "cluster")
        .join(
            cand_members.select(F.col("vec_id").alias("nbr"), "cluster"),
            "cluster",
        )
        .filter(F.col("src") != F.col("nbr"))
        # no distinct needed: a nbr has exactly ONE home cell (rn=1
        # membership), so the 2 src probes cannot repeat a pair
        .select("src", "nbr")
    )
    es = all_vecs.select(F.col("vec_id").alias("src"), F.col("emb").alias("se"))
    en = all_vecs.select(F.col("vec_id").alias("nbr"), F.col("emb").alias("ne"))
    sim = F.round(cosine_similarity(F.col("se"), F.col("ne")), 4)
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("nbr"))
    knn_edges = (
        cand.join(es, "src")
        .join(en, "nbr")
        .select("src", "nbr", sim.alias("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= GRAPH_DEGREE)
        .select("src", "nbr", "sim")
    )
    # star bridges to the FROZEN cell hubs (hub identity via any
    # existing member's hubmap row — cells are nonempty by build)
    hub_of_cell = (
        assign.join(
            hubmap.select("vec_id", "hub"), "vec_id"
        )
        .select("cluster", "hub")
        .distinct()
    )
    star = (
        basgn.join(hub_of_cell, "cluster")
        .filter(F.col("vec_id") != F.col("hub"))
        .join(batch.select("vec_id", F.col("emb").alias("me")), "vec_id")
        .join(
            vecs.select(F.col("vec_id").alias("hub"), F.col("emb").alias("he")),
            "hub",
        )
        .select(
            F.col("vec_id").alias("src"),
            F.col("hub").alias("nbr"),
            F.round(cosine_similarity(F.col("me"), F.col("he")), 4).alias("sim"),
        )
    )
    fwd = knn_edges.unionByName(star).distinct().localCheckpoint(eager=True)
    rev = fwd.select(F.col("nbr").alias("src"), F.col("src").alias("nbr"), "sim")
    new_edges = (
        fwd.unionByName(rev)
        .distinct()
        .withColumn("sbucket", vec_bucket_expr(F.col("src")))
    )
    new_hubmap = basgn.join(hub_of_cell, "cluster").select(
        "vec_id", "hub", vec_bucket_expr(F.col("vec_id")).alias("vbucket")
    )
    new_vecs_rows = batch.select(
        vec_bucket_expr(F.col("vec_id")).alias("vbucket"), "vec_id", "emb"
    )
    # neighbor payload on the appended edge rows (GRAPH_EDGES_SCHEMA
    # doc): emb from existing vecs ∪ the batch
    new_edges = new_edges.join(
        all_vecs.select(F.col("vec_id").alias("nbr"), F.col("emb").alias("nemb")),
        "nbr",
        "left",
    ).select("src", "nbr", "sim", "nemb", "sbucket")
    components = [
        vn.Component("edges", ("sbucket",), frozenset(), (new_edges,)),
        vn.Component("entry", link_from=os.path.join(cur, "entry")),
        vn.Component("cellhubs", link_from=os.path.join(cur, "cellhubs")),
        vn.Component("hubmap", ("vbucket",), frozenset(), (new_hubmap,)),
        vn.Component("vecs", ("vbucket",), frozenset(), (new_vecs_rows,)),
        vn.Component(
            "assign", ("cluster",), frozenset(), (basgn.select("vec_id", "cluster"),)
        ),
        vn.Component("cents", link_from=os.path.join(cur, "cents")),
    ]
    # a commit materializes ONLY the listed components: tombstones (if
    # any deletes landed before this insert) must ride through or the
    # new version would resurrect deleted ids
    if os.path.isdir(os.path.join(cur, "tomb")):
        components.append(
            vn.Component("tomb", link_from=os.path.join(cur, "tomb"))
        )
    new_cur = vn.commit_version(
        spark,
        root,
        components,
        expected=os.path.basename(cur),
        compact=GRAPH_COMPONENTS,
    )
    return new_cur


def _tombstoned_among(cur: str, ids) -> set:
    """The tombstoned subset of ``ids``, read with pyarrow from the
    ``tomb/vbucket=*`` dirs of their vbuckets (a missing dir = no
    deletes there)."""
    import pyarrow.parquet as pq

    ids = {int(i) for i in ids}
    dead: set = set()
    for vb in sorted({vec_bucket_py(i) for i in ids}):
        part = os.path.join(cur, "tomb", f"vbucket={vb}")
        if os.path.isdir(part):
            got = pq.read_table(part, columns=["vec_id"]).column("vec_id")
            dead.update(ids.intersection(got.to_pylist()))
    return dead


def delete_from_graph_index(
    spark: SparkSession,
    sf_dir: str,
    ids,
) -> str:
    """Mark-delete from the navigable graph — the hnswlib
    ``mark_deleted`` analog: deleted ids stay IN the graph (their
    adjacency keeps routing the beam — ripping a node out would orphan
    the regions it bridges, which is why hnswlib doesn't either) and
    are filtered only at result emission (the Collection scores only the
    ids its current version stores). The tombstone set is a versioned
    ``tomb/`` component (vec_id, vbucket); every other component
    hardlinks through, so a delete commit writes kilobytes regardless of
    corpus size. Edge repair / physical removal is a full rebuild's job,
    exactly like centroid drift (``fsck_graph_index`` reports the
    tombstone fraction and advises past 50%).

    Replay discipline (the update_graph_index contract): a batch whose
    ids are ALL already tombstoned no-ops (at-least-once streaming
    replay); a partial overlap raises (ambiguous — neither a replay nor
    a fresh delete); ids absent from the index raise."""
    cur = build_graph_index(spark, sf_dir)
    root = os.path.dirname(cur)
    ids = sorted({int(i) for i in ids})
    if not ids:
        return cur
    vbs = sorted({vec_bucket_py(i) for i in ids})
    present = {
        r["vec_id"]
        for r in spark.read.schema(VECS_SCHEMA)
        .parquet(os.path.join(cur, "vecs"))
        .filter(F.col("vbucket").isin(vbs) & F.col("vec_id").isin(ids))
        .select("vec_id")
        .collect()
    }
    missing = [i for i in ids if i not in present]
    if missing:
        raise ValueError(
            f"delete_from_graph_index: ids not in the index: {missing}"
        )
    already = _tombstoned_among(cur, ids)
    if len(already) == len(ids):
        return cur  # idempotent replay
    if already:
        raise ValueError(
            f"delete_from_graph_index: {len(already)}/{len(ids)} ids "
            f"already tombstoned (partial replay is ambiguous)"
        )
    tomb_rows = spark.createDataFrame(
        [(i, vec_bucket_py(i)) for i in ids], GRAPH_TOMB_SCHEMA
    )
    return vn.commit_version(
        spark,
        root,
        [
            vn.Component("tomb", ("vbucket",), frozenset(), (tomb_rows,)),
            vn.Component("edges", link_from=os.path.join(cur, "edges")),
            vn.Component("entry", link_from=os.path.join(cur, "entry")),
            vn.Component(
                "cellhubs", link_from=os.path.join(cur, "cellhubs")
            ),
            vn.Component("hubmap", link_from=os.path.join(cur, "hubmap")),
            vn.Component("vecs", link_from=os.path.join(cur, "vecs")),
            vn.Component("assign", link_from=os.path.join(cur, "assign")),
            vn.Component("cents", link_from=os.path.join(cur, "cents")),
        ],
        expected=os.path.basename(cur),
        compact=GRAPH_COMPONENTS,
    )


def fsck_graph_index(spark: SparkSession, sf_dir: str) -> list:
    """Graph-index integrity: the generic versioned-root checks plus
    the graph's own invariants — every edge endpoint has a vector,
    no self-loops, bounded out-degree, entry hubs exist
    as sources. Resolves (building if absent) like the other index
    fscks. Returns (check, ok, detail); never raises."""
    build_graph_index(spark, sf_dir)
    root = graph_index_root(sf_dir)
    comp_list = [
        ("edges", ["sbucket"], GRAPH_EDGES_SCHEMA),
        ("entry", [], GRAPH_ENTRY_SCHEMA),
        ("hubmap", ["vbucket"], GRAPH_HUBMAP_SCHEMA),
        ("cellhubs", [], GRAPH_CELLHUBS_SCHEMA),
        ("vecs", ["vbucket"], VECS_SCHEMA),
        ("assign", ["cluster"], IVF_ASSIGN_SCHEMA),
        ("cents", [], "cluster int, c array<double>"),
    ]
    out = vn.fsck_index(root, comp_list)
    cur = vn.current_dir(root)
    if cur is None:
        return out
    edges = spark.read.schema(GRAPH_EDGES_SCHEMA).parquet(
        os.path.join(cur, "edges")
    )
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(cur, "vecs"))
    dangling = (
        edges.select(F.col("nbr").alias("vec_id"))
        .union(edges.select(F.col("src").alias("vec_id")))
        .distinct()
        .join(vecs.select("vec_id"), "vec_id", "left_anti")
        .count()
    )
    out.append(("edge_endpoints_have_vectors", dangling == 0, f"dangling={dangling}"))
    loops = edges.filter(F.col("src") == F.col("nbr")).count()
    out.append(("no_self_loops", loops == 0, f"loops={loops}"))
    # structural build bound; incremental inserts append reversals onto
    # existing sources (the deferred-repair trade, update_graph_index),
    # so the advisory ceiling is 2× — past it, rebuild (the drift story)
    deg = 2 * (
        GRAPH_DEGREE
        + GRAPH_HUB_DEGREE
        + 1  # the star bridge to the cell hub
        + IVF_JOIN_CELL_CAP  # capped reverse links
    )
    over = (
        edges.groupBy("src")
        .count()
        .filter(F.col("count") > deg)
        .count()
    )
    out.append(
        (
            "out_degree_bounded",
            over == 0,
            f"over={over} cap={deg}" + (" — rebuild the graph" if over else ""),
        )
    )
    entry = spark.read.schema(GRAPH_ENTRY_SCHEMA).parquet(
        os.path.join(cur, "entry")
    )
    miss = entry.join(
        edges.select(F.col("src").alias("vec_id")).distinct(), "vec_id", "left_anti"
    ).count()
    out.append(("entry_hubs_are_sources", miss == 0, f"missing={miss}"))
    hubmap = spark.read.schema(GRAPH_HUBMAP_SCHEMA).parquet(
        os.path.join(cur, "hubmap")
    )
    unmapped = vecs.join(hubmap.select("vec_id"), "vec_id", "left_anti").count()
    out.append(("every_vector_hub_mapped", unmapped == 0, f"unmapped={unmapped}"))
    # the serve-time seed store: one hub per cluster, each a real vector,
    # and consistent with hubmap (a member's mapped hub IS its cluster's
    # cellhubs row — the two stores answer the same question from
    # different keys and must never diverge)
    cellhubs = spark.read.schema(GRAPH_CELLHUBS_SCHEMA).parquet(
        os.path.join(cur, "cellhubs")
    )
    dup = (
        cellhubs.groupBy("cluster").count().filter(F.col("count") > 1).count()
    )
    out.append(("one_hub_per_cell", dup == 0, f"dup_clusters={dup}"))
    ch_dangling = cellhubs.join(
        vecs.select(F.col("vec_id").alias("hub")), "hub", "left_anti"
    ).count()
    out.append(
        ("cellhub_vectors_exist", ch_dangling == 0, f"dangling={ch_dangling}")
    )
    assign_t = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(
        os.path.join(cur, "assign")
    )
    mismatch = (
        assign_t.join(hubmap.select("vec_id", "hub"), "vec_id")
        .join(
            cellhubs.select("cluster", F.col("hub").alias("ch")), "cluster"
        )
        .filter(F.col("hub") != F.col("ch"))
        .count()
    )
    out.append(
        ("cellhubs_match_hubmap", mismatch == 0, f"mismatched={mismatch}")
    )
    # the r13 no-large-all-pairs invariant, checked from the frozen
    # witness: every hub-mesh level above the gate must have been
    # cell-blocked (only the final level may be all-pairs), levels must
    # strictly shrink (termination). Older builds without the key pass
    # vacuously (they predate the recursion).
    import json as _json0

    stats_p = os.path.join(cur, "build_stats.json")
    levels, apm = [], None
    if os.path.exists(stats_p):
        with open(stats_p) as f:
            st = _json0.load(f)
        levels = st.get("hub_mesh_levels", [])
        apm = st.get("hub_allpairs_max")
    mesh_ok = (not levels) or (
        apm is not None
        and all(c > apm for c in levels[:-1])
        and levels[-1] <= apm
        and all(a > b for a, b in zip(levels, levels[1:]))
    )
    out.append(
        (
            "hub_mesh_levels_sound",
            mesh_ok,
            f"levels={levels} gate={apm}",
        )
    )
    # coarse drift (on the graph's own frozen structure): inserts
    # assign under build-time centroids/hubs, so residual growth or cell
    # skew vs the frozen build_stats baseline means beam routing quality
    # is decaying — rebuild the graph
    import json as _json

    from .ann import _ivf_stats_of_version

    stats_p = os.path.join(cur, "build_stats.json")
    if not os.path.exists(stats_p):
        out.append(("coarse_drift", True, "no build_stats.json (legacy build)"))
    else:
        with open(stats_p) as f:
            built = _json.load(f)
        now = _ivf_stats_of_version(spark, cur)
        growth = (
            now["mean_d2"] / built["mean_d2"] if built.get("mean_d2") else None
        )
        even = now["n"] / built["cells"] if built.get("cells") else None
        skew = now["max_cell"] / even if even else None
        drifted = bool(
            (growth is not None and growth > DRIFT_RESIDUAL_THRESHOLD)
            or (skew is not None and skew > DRIFT_SKEW_THRESHOLD)
        )
        out.append(
            (
                "coarse_drift",
                not drifted,
                f"residual_growth={growth and round(growth, 3)} "
                f"cell_skew={skew and round(skew, 3)}"
                + (" — rebuild the graph" if drifted else ""),
            )
        )
    # tombstones (optional component — absent until the first delete):
    # every tombstone must name an indexed vector, and past 50% dead the
    # index should be rebuilt (dead nodes still cost traversal and
    # storage — the hnswlib mark-delete trade, same advisory shape as
    # the coarse drift check above)
    tomb_path = os.path.join(cur, "tomb")
    if os.path.isdir(tomb_path):
        tomb = spark.read.schema(GRAPH_TOMB_SCHEMA).parquet(tomb_path)
        orphan = tomb.join(vecs.select("vec_id"), "vec_id", "left_anti").count()
        out.append(
            ("tombstones_name_indexed_vectors", orphan == 0, f"orphan={orphan}")
        )
        n_dead = tomb.select("vec_id").distinct().count()
        n_all = vecs.count()
        frac = n_dead / n_all if n_all else 0.0
        out.append(
            (
                "tombstone_fraction_bounded",
                frac <= 0.5,
                f"dead={n_dead}/{n_all}"
                + (" — rebuild the graph" if frac > 0.5 else ""),
            )
        )
    return out
