"""Navigable-graph ANN — the HNSW analog (VERDICT r11 next #1).

The reference's actual vector index IS a navigable small-world graph:
ChromaDB's default index is hnswlib (coding_agent/tools/
vector_search_tool.py:42 queries it through ``collection.query``). The
repo serves RP-LSH and IVF families; this module adds the
missing structural analog — a batch-built k-NN GRAPH persisted as a
versioned index, served by deterministic bounded beam search.

Design (Spark-first, not an hnswlib port):

- **Layer 0** (the neighborhood graph): the ``knn_join_ivf_topk`` cell
  join's edges (operators/ann.py) at ``degree`` neighbors per
  vector — IVF-cell-blocked construction is the batch analog of HNSW's
  incremental insert-time neighbor selection (NN-Descent-style blocked
  builds are the standard MapReduce construction; cost is linear in n
  via the derived cell count + per-cell cap).
- **Layer 1** (the express lanes — HNSW's upper layers): one HUB per
  IVF cell (the md5-min nonzero member — deterministic, the house
  md5-selection discipline), each hub linked to its ``hub_degree``
  nearest hubs by exact 4-dp cosine. Hubs give greedy search the
  long-range jumps that pure same-cell edges lack (same-cell-only
  adjacency is DISCONNECTED across cells). Hub-mesh construction is
  RECURSIVE (VERDICT r12 next #1 — HNSW's log-layering, Spark-first):
  while the level's hub count c exceeds ``hub_allpairs_max``, the
  level is meshed by the SAME cell-blocked pipeline as layer 0 (sampled
  Lloyd's over the level at max(2, ceil(c/128)) cells, same-cell capped
  kNN at ``hub_degree``, md5-min next-level hubs, star bridges up), and
  only the final level — guaranteed ≤ hub_allpairs_max — is all-pairs.
  Every level's candidate volume is ≤ c × IVF_JOIN_CELL_CAP (linear in
  the level size) and levels shrink ×~128, so total build cost is
  O(n + n/128 + …) = O(n); NO all-pairs join over an n-proportional
  set exists at any layer. Level sizes are frozen into
  ``build_stats.json["hub_mesh_levels"]`` so tests and fsck can assert
  the invariant.
- **One unified edge set, BIDIRECTIONAL**: layer-0 ∪ layer-1 edges ∪
  their reversals (capped per source — see the build comment; a k-NN
  digraph is not strongly connected, HNSW links both ways for the same
  reason) in one ``edges/`` component partitioned by ``sbucket`` (md5
  bucket of src), so a beam round's neighbor fetch statically prunes
  to the frontier's partition directories — bounded point reads,
  never a scan.
- **Entry point**: the two md5-smallest hubs persisted at build time
  (``entry/``); serving starts from the first one that is not the
  query itself (deterministic, query-independent otherwise).

Search (``ann_graph_topk``): classic best-first beam, made
deterministic and oracle-mirrorable — visited set V₀ = {entry} ∪ the
hubs of the query's GRAPH_SEED_CELLS nearest cells (r14 multi-door
seeding, resolved by pure driver math over the memoized cents +
cellhubs tables — FAISS's nprobe applied to the graph's coarse layer);
each of ``rounds`` rounds expands the ``beam`` best visited nodes
(4-dp cosine to the query, vec_id tie-break), scores their unseen
neighbors, and unions them into V; the answer is the top-k of the
final V. The loop runs DRIVER-side over bounded state (≤ beam ids per
frontier, ≤ beam × (degree + hub_degree) new ids per round — a
sequential algorithm belongs on the driver when its state is
O(k)-bounded), with per-round partition-pruned point
reads of ``edges/`` and ``vecs/``. Sims use the identical
left-to-right double fold + Decimal HALF_UP 4-dp quantize, which
equals F.round / DuckDB round on these values, so the DuckDB
twin unrolls the rounds as chained CTEs (v_r = v_{r-1} UNION scored
neighbors of top-beam(v_{r-1})) and hash-matches exactly.

100 TB shape: build = one cell join (linear, capped) + one hub join;
serve = ``rounds`` × 2 point-read jobs whose cost depends only on
(beam, degree, rounds) — corpus-size-independent, like every serving
probe in the ANN family.
"""

from __future__ import annotations

import contextlib
import math
import os
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, round4
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
# fsck_graph_index's coarse-drift advisory fires when the mean squared
# residual to the frozen centroids grows past RESIDUAL x its build-time
# value, or the largest cell holds more than SKEW x an even share.
DRIFT_RESIDUAL_THRESHOLD = 1.5
DRIFT_SKEW_THRESHOLD = 3.0
# r14 recall levers (VERDICT r13 next #1 — mild-fixture unfiltered
# recall ~0.64-0.73 vs multiprobe 0.98; all three measured on the
# σ=0.25 mixture fixture, tools/collection_recall_sweep.py):
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
# Default search budget for the blind kernel (hnswlib ef): beam 8 -> 12,
# rounds unchanged — so the per-query point-read JOB count stays the old
# default's. Net measured profile (mild facade fixture, BASELINE.md
# r14): recall 0.64 -> 0.92 at ~2.5x the old blind beam's vector fetch
# volume (613 vs 241 mean visited; each fetch stays a bounded
# partition-pruned point read, <= seeds x cell fan + beam x rev cap
# rows, corpus-size-independent). Tight fixture stays 1.00.
GRAPH_BEAM = 12
GRAPH_ROUNDS = 3
# The ACORN walks keep r13's measured raise-ef-for-filters budget
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
# r17 (VERDICT r16 next #2): edge rows CARRY the neighbor's payload —
# its embedding and (nullable) label — so a beam round's adjacency
# fetch IS its vector/predicate fetch: ONE partition-pruned point read
# per round instead of two (guide §2.4 fewer passes, §6 co-location;
# HNSW's trade of storage for lookups, denormalized on disk because the
# serving cost model is per-JOB round-trips, not RAM hops). vecs/ stays
# the store of record; nemb/nlabel are frozen copies, safe because ids
# are never updated in place (insert is ADD-only, delete is tombstone,
# vacuum/rebuild re-derive every edge). Storage cost: ~out-degree
# copies of each vector in edges/ — the documented price; serving jobs
# per query drop from 2 + 2·rounds to 2 + rounds (the ACORN walk from
# 2 + 4·rounds to 2 + 2·rounds).
GRAPH_EDGES_SCHEMA = (
    "src bigint, nbr bigint, sim double, nemb array<double>, "
    "nlabel int, sbucket int"
)
GRAPH_ENTRY_SCHEMA = "rk int, vec_id bigint"
GRAPH_HUBMAP_SCHEMA = "vec_id bigint, hub bigint, vbucket int"
GRAPH_CELLHUBS_SCHEMA = "cluster int, hub bigint"
GRAPH_LABELS_SCHEMA = "vec_id bigint, label int, vbucket int"
# r15 (VERDICT r14 next #1): on a LABELED corpus the graph's vecs/
# component is written fresh with the label as a nullable column —
# co-locating predicate and payload so the ACORN scored fetch is ONE
# vbucket-pruned scan instead of a per-round vecs ⋈ labels join of two
# pruned scans (the r14 weak mark: ann_graph_acorn_topk 1.79 -> 5.85 s).
# Label-less corpora keep the zero-copy hardlink from the IVF version
# (ACORN is unservable there anyway). labels/ stays as the plan-pinned
# metadata component; labels-dir-exists ⟺ vecs carries the label column.
GRAPH_VECS_SCHEMA = "vec_id bigint, emb array<double>, label int, vbucket int"
GRAPH_TOMB_SCHEMA = "vec_id bigint, vbucket int"
GRAPH_COMPONENTS = [
    ("edges", ["sbucket"]),
    ("entry", []),
    ("hubmap", ["vbucket"]),
    ("cellhubs", []),
    # label sidecar for predicate-aware (ACORN) serving: vbucket-
    # partitioned so the pass lookup is a pruned point read like the
    # vector fetch (VERDICT r13 next #5 — was vec_id pushdown over the
    # raw single-file corpus). OPTIONAL: written only when the corpus
    # carries a label column (facade/vacuum scratch corpora don't; the
    # facade's predicate rides its own mbucket-pruned meta store).
    ("labels", ["vbucket"]),
    ("vecs", ["vbucket"]),
    ("assign", ["cluster"]),
    ("cents", []),
    ("tomb", ["vbucket"]),
]


def _comp_df(
    spark: SparkSession, cur: str, comp: str, schema: str
) -> DataFrame:
    """Session-memoized DataFrame handle for one component of an
    IMMUTABLE index version dir (r16, guide §6/§7.3): every serving
    fetch used to call ``spark.read.schema(...).parquet(path)`` afresh,
    re-building the datasource relation and re-listing the partition
    dirs on the DRIVER per point read — measured ~85 ms of each ~215 ms
    fetch at sf0.1, and at 100 TB the listing grows with the dir count.
    A version dir never changes after publish (the atomic _CURRENT
    contract), so the handle is safe to reuse for the session; filters
    applied per fetch still prune partitions statically. Keyed on the
    version dir + schema (vecs/ is read under two schemas: with and
    without the label column) via ``version_memo`` — no fingerprint
    walk per lookup (ADVICE r16)."""
    from ..memo import version_memo

    return version_memo(
        spark,
        cur,
        "graph_comp_df",
        lambda: spark.read.schema(schema).parquet(os.path.join(cur, comp)),
        comp,
        schema,
    )


@contextlib.contextmanager
def _point_reads(spark: SparkSession):
    """AQE off for a block of bounded point-read collects (r16): these
    are single-stage scan→filter→collect jobs — AQE's per-query adaptive
    wrapper only adds a driver round-trip to each (measured ~40 ms per
    fetch at sf0.1), and there is nothing adaptive to decide. The
    dedup_gate_for prologue established the toggle discipline; results
    are plan-shape-independent (no exchanges, no joins)."""
    was = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", was)


def graph_index_root(
    sf_dir: str,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
    tag: str = "",
    hub_allpairs_max: int = GRAPH_HUB_ALLPAIRS_MAX,
) -> str:
    from ..memo import index_root

    # tag participates in the key only when set, so default roots keep
    # their established paths; a tagged root ("vac" for the vacuumed
    # serving key) is a fully independent index lifecycle — keys that
    # MUTATE their index must never share a root with keys that serve
    # it tombstone-blind (their replays would interleave states)
    extra = (tag,) if tag else ()
    # same only-when-non-default discipline: a non-default recursion
    # gate changes the EDGE SET, so it is a different index
    if hub_allpairs_max != GRAPH_HUB_ALLPAIRS_MAX:
        extra = extra + ("apm", hub_allpairs_max)
    return index_root(
        "graph_ann", sf_dir, *extra, degree, hub_degree, iters,
        IVF_JOIN_TARGET_CELL, IVF_JOIN_CELL_CAP, IVF_JOIN_TRAIN_PER_CELL,
        N_VEC_BUCKETS,
        # r14: nprobe-2 layer-0 candidates + the cellhubs component —
        # unconditionally in the key so every pre-r14 cached version is
        # invalidated (its edge set AND its component list are stale)
        "np", GRAPH_BUILD_NPROBE,
        # r15 layout token: labeled corpora fold the label into vecs/
        # (GRAPH_VECS_SCHEMA) — pre-r15 versions' vecs files lack the
        # column and would serve null labels, so they must not resolve
        "lv", 1,
        # r17 layout token: edges carry the neighbor payload
        # (GRAPH_EDGES_SCHEMA nemb/nlabel) — pre-r17 versions' edge
        # files lack the columns and would serve null payloads
        "ne", 1,
    )


def _allpairs_mesh(hv: DataFrame, hub_degree: int) -> DataFrame:
    """Exact top-``hub_degree`` mesh over a SMALL (vec_id, emb) level —
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
        .filter(F.col("rk") <= hub_degree)
        .select("src", "nbr", "sim")
    )


def _hub_mesh_edges(
    spark: SparkSession,
    hv: DataFrame,
    hub_degree: int,
    hub_allpairs_max: int,
    iters: int,
    level_sizes: list,
) -> DataFrame:
    """Mesh one hub LEVEL (module doc "Layer 1"): all-pairs when the
    level is small, else ONE recursion step of the cell-blocked
    pipeline — sampled Lloyd's over the level at max(2, ceil(c/128))
    cells, same-cell md5-capped kNN at ``hub_degree``, md5-min
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
        return _allpairs_mesh(hv, hub_degree)
    cent_rows = _sampled_centroid_rows(
        hv.select("vec_id", "emb"), rc, iters, IVF_JOIN_TRAIN_PER_CELL
    )
    assign = assign_to_centroids(
        hv.select("vec_id", "emb"), cent_rows
    ).localCheckpoint(eager=True)
    # same-cell capped kNN — the knn_join_ivf_topk shape one level up:
    # candidates ≤ c × IVF_JOIN_CELL_CAP, linear in the level size
    l = assign.select(F.col("vec_id").alias("src"), "cluster")
    r = cap_bucket_members(
        assign, IVF_JOIN_CELL_CAP, bucket_cols=("cluster",)
    ).select(F.col("vec_id").alias("nbr"), "cluster")
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
        .filter(F.col("rk") <= hub_degree)
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
        spark,
        nxt_v.select("vec_id", "emb"),
        hub_degree,
        hub_allpairs_max,
        iters,
        level_sizes,
    )
    return knn.unionByName(star).unionByName(upper)


def build_graph_index(
    spark: SparkSession,
    sf_dir: str,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
    tag: str = "",
    hub_allpairs_max: int = GRAPH_HUB_ALLPAIRS_MAX,
) -> str:
    """Build (or resolve) the versioned k-NN graph index. Components:
    ``edges/sbucket=*`` (src, nbr, sim — layer-0 cell-join edges ∪
    layer-1 hub edges), ``entry/`` (the two md5-smallest hubs),
    ``vecs/`` (hardlinked from the sampled-IVF version the edges were
    derived from — the corpus-of-record the serving rerank reads).
    Returns the current version dir."""
    from pyspark.sql.window import Window

    root = graph_index_root(
        sf_dir, degree, hub_degree, iters, tag, hub_allpairs_max
    )
    cur = vn.current_dir(root)
    if cur is not None:
        return cur

    # layer 0: the cell join's k-NN edges at graph degree — candidates
    # from each source's top-GRAPH_BUILD_NPROBE cells (boundary vectors
    # get cross-cell true neighbors; out-degree cap unchanged)
    edges0 = knn_join_ivf_topk(
        spark, sf_dir, k=degree, iters=iters, src_nprobe=GRAPH_BUILD_NPROBE
    ).select("src", "nbr", "sim")

    # the SAME sampled-IVF version the cell join built/used
    emb_t = load_table(spark, sf_dir, "embeddings")
    n = emb_t.count()
    c = derived_cell_count(n)
    assign_p, _cents = build_ivf_index_sampled(
        spark, sf_dir, c, iters, IVF_JOIN_TRAIN_PER_CELL
    )
    ver = os.path.dirname(assign_p)
    assign = spark.read.schema(IVF_ASSIGN_SCHEMA).parquet(assign_p)
    vecs = spark.read.schema(VECS_SCHEMA).parquet(os.path.join(ver, "vecs"))
    nz = vecs.filter(_nonzero_pred()).select("vec_id")

    # layer 1: md5-min nonzero member per cell, linked to its
    # hub_degree nearest hubs by exact 4-dp cosine (all-pairs over c
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
        spark,
        hv.select("vec_id", "emb"),
        hub_degree,
        hub_allpairs_max,
        iters,
        mesh_levels,
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
    # same vecs store serving reads, label (nullable) from the corpus —
    # LEFT join so a hypothetically dangling edge keeps its row with a
    # null payload (serving skips it, exactly like the old two-fetch
    # shape, where a dangling nbr simply fetched no vector)
    if "label" in emb_t.columns:
        npay = vecs.select(
            F.col("vec_id").alias("nbr"), F.col("emb").alias("nemb")
        ).join(
            emb_t.select(
                F.col("vec_id").alias("nbr"),
                F.col("label").cast("int").alias("nlabel"),
            ),
            "nbr",
            "left",
        )
    else:
        npay = vecs.select(
            F.col("vec_id").alias("nbr"),
            F.col("emb").alias("nemb"),
            F.lit(None).cast("int").alias("nlabel"),
        )
    edges = edges.join(npay, "nbr", "left").select(
        "src", "nbr", "sim", "nemb", "nlabel", "sbucket"
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
    # md5 vbucket — the serve-time O(1) point lookup that seeds the
    # beam with the query's regional door (see ann_graph_topk). The
    # assign/ store can't serve this lookup (it partitions by cluster,
    # which is exactly what the lookup doesn't know yet).
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
    comps = []
    if "label" in emb_t.columns:
        # label sidecar for ACORN pass lookups (GRAPH_COMPONENTS doc):
        # partitioned by the vector's OWN vbucket so the predicate
        # fetch prunes exactly like the vector fetch
        comps.append(
            vn.Component(
                "labels",
                ("vbucket",),
                frozenset(),
                (
                    emb_t.select(
                        "vec_id",
                        F.col("label").cast("int").alias("label"),
                        vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
                    ),
                ),
            )
        )
        # labeled corpus: vecs/ is written FRESH with the label folded
        # in as a nullable column (GRAPH_VECS_SCHEMA doc — the ACORN
        # scored fetch becomes one pruned scan). One extra O(n) write
        # at build, the price of co-location; the label-less branch
        # below keeps the zero-copy hardlink.
        lvecs = (
            vecs.join(
                emb_t.select(
                    "vec_id", F.col("label").cast("int").alias("label")
                ),
                "vec_id",
                "left",
            ).select("vbucket", "vec_id", "emb", "label")
        )
        vecs_comp = vn.Component("vecs", ("vbucket",), frozenset(), (lvecs,))
    else:
        vecs_comp = vn.Component("vecs", link_from=os.path.join(ver, "vecs"))
    try:
        vn.commit_version(
            spark,
            root,
            comps
            + [
                vn.Component("edges", ("sbucket",), frozenset(), (edges,)),
                vn.Component("entry", (), writes=(entry,)),
                vn.Component("hubmap", ("vbucket",), frozenset(), (hubmap,)),
                # cluster -> hub, c rows: the serve-time seed lookup
                # (top-GRAPH_SEED_CELLS cells by query distance -> their
                # hubs) — collected once per (session, version) like
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
                vecs_comp,
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


def _sim4(a: list, b: list) -> float:
    """4-dp cosine on doubles: left-to-right fold (list_inner_product's
    order) + ``round4`` (= F.round / DuckDB round on these values)."""
    num = aa = bb = 0.0
    for x, y in zip(a, b):
        num += x * y
        aa += x * x
        bb += y * y
    return round4(num / (math.sqrt(aa) * math.sqrt(bb)))


def _graph_coarse_rows(spark: SparkSession, cur: str) -> tuple:
    """(centroid rows sorted by cluster, {cluster: hub}) for a graph
    version — two tiny immutable tables collected once per (session,
    version), the entry-rows memo discipline. The serve-time seed
    resolution is thereafter pure driver math: zero per-query jobs."""
    from ..memo import version_memo

    return version_memo(
        spark,
        cur,
        "graph_coarse_rows",
        lambda: (
            sorted(
                (
                    {"cluster": int(r["cluster"]), "c": [float(x) for x in r["c"]]}
                    for r in spark.read.parquet(
                        os.path.join(cur, "cents")
                    ).collect()
                ),
                key=lambda r: r["cluster"],
            ),
            {
                int(r["cluster"]): r["hub"]
                for r in spark.read.schema(GRAPH_CELLHUBS_SCHEMA)
                .parquet(os.path.join(cur, "cellhubs"))
                .collect()
            },
        ),
    )


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


def _seed_hubs(
    spark: SparkSession,
    cur: str,
    q_emb: list,
    exclude: "int | None" = None,
    seed_cells: int = GRAPH_SEED_CELLS,
) -> list:
    """Seed set for a beam search: the hubs of the query's
    ``seed_cells`` nearest cells (exact frozen-assignment ranking) —
    the multi-door fix for noise-straddled neighborhoods (module
    constants doc). ``exclude`` drops the query's own id (corpus-key
    semantics; the facade passes None). The global entry hub is NOT
    included here — callers union it (its selection depends on the
    caller's exclusion rule)."""
    cent_rows, hub_of = _graph_coarse_rows(spark, cur)
    ranked = sorted(cent_rows, key=lambda r: _exact_d2_key(q_emb, r))
    out = []
    for r in ranked[:seed_cells]:
        h = hub_of.get(r["cluster"])
        if h is not None and h != exclude and h not in out:
            out.append(h)
    return out


def _beam_visited(
    spark: SparkSession,
    cur: str,
    query_vec_id: int,
    beam: int,
    rounds: int,
) -> dict:
    """The beam-search kernel shared by the solo and tombstone-aware
    serving keys: returns the final visited map {vec_id: 4-dp sim}.
    Traversal NEVER consults tombstones (the hnswlib mark-delete
    semantics: deleted nodes stay navigable so the graph's reachability
    is unharmed; only RESULT emission filters) — so a tombstoned index
    visits the identical set a fresh one does."""
    from ..memo import version_memo

    # entry/ is two rows in an immutable version dir — collect once per
    # (session, version), not once per query (version dirs are
    # immutable so the path is the key)
    entry_rows = version_memo(
        spark,
        cur,
        "graph_entry_rows",
        lambda: (
            spark.read.schema(GRAPH_ENTRY_SCHEMA)
            .parquet(os.path.join(cur, "entry"))
            .orderBy("rk")
            .collect()
        ),
    )
    entry = next(
        (r["vec_id"] for r in entry_rows if r["vec_id"] != query_vec_id), None
    )
    if entry is None:
        raise ValueError("graph index has no usable entry hub")
    vecs_df = _comp_df(spark, cur, "vecs", VECS_SCHEMA)
    edges_df = _comp_df(spark, cur, "edges", GRAPH_EDGES_SCHEMA)

    def fetch_vecs(ids) -> dict:
        ids = sorted(ids)
        vbs = sorted({vec_bucket_py(i) for i in ids})
        rows = (
            vecs_df
            .filter(F.col("vbucket").isin(vbs) & F.col("vec_id").isin(ids))
            .select("vec_id", "emb")
            .collect()
        )
        return {r["vec_id"]: [float(x) for x in r["emb"]] for r in rows}

    # seed the beam with the GLOBAL entry AND the hubs of the query's
    # GRAPH_SEED_CELLS nearest cells (pure driver math over the
    # memoized cents/cellhubs tables — zero per-query jobs). Pure
    # best-first from a single entry provably stalls when the query's
    # region has no well-scoring upper-layer node (measured: an
    # interleaved sub-cluster whose only door scored sim −0.20 was
    # never expanded at any beam width); seeding by coarse assignment
    # is the FAISS IVF+HNSW-hybrid answer, and our coarse quantizer IS
    # the index's top layer — multi-cell doors are its nprobe.
    with _point_reads(spark):
        qv = fetch_vecs({query_vec_id})
        if query_vec_id not in qv:
            raise ValueError(f"query vec_id {query_vec_id} not in the index")
        q = qv[query_vec_id]
        if not any(x != 0.0 for x in q):
            raise ValueError("zero-norm query vector: cosine undefined")
        seeds = [entry] + [
            h
            for h in _seed_hubs(spark, cur, q, exclude=query_vec_id)
            if h != entry
        ]
        first = fetch_vecs(set(seeds))
        visited = {s: _sim4(q, first[s]) for s in set(seeds)}
        frontier = sorted(visited, key=lambda v: (-visited[v], v))[:beam]
        for _ in range(rounds):
            # ONE fused point read per round (GRAPH_EDGES_SCHEMA doc):
            # the edge rows carry the neighbor's embedding, so the
            # adjacency fetch IS the vector fetch — was two sequential
            # jobs (edges, then vecs of the unseen ids)
            sbs = sorted({vec_bucket_py(i) for i in frontier})
            nbr_rows = (
                edges_df
                .filter(
                    F.col("sbucket").isin(sbs)
                    & F.col("src").isin(sorted(frontier))
                )
                .select("nbr", "nemb")
                .collect()
            )
            new_ids = (
                {r["nbr"] for r in nbr_rows} - set(visited) - {query_vec_id}
            )
            if not new_ids:
                # fixed point: visited is unchanged, so the frontier (its
                # top-beam) cannot change either — every further round
                # would re-fetch the same adjacency for nothing. Identical
                # results, fewer point-read jobs on converged searches.
                break
            for r in nbr_rows:
                vid = r["nbr"]
                if vid in new_ids and vid not in visited and r["nemb"] is not None:
                    visited[vid] = _sim4(q, [float(x) for x in r["nemb"]])
            frontier = [
                v
                for v, _s in sorted(
                    visited.items(), key=lambda kv: (-kv[1], kv[0])
                )[:beam]
            ]
    return visited


def ann_graph_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    beam: int = GRAPH_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> DataFrame:
    """Serve top-k by deterministic beam search over the persisted
    k-NN graph (module doc). Bounded driver-side loop; every Spark job
    inside is a partition-pruned point read (edges by the frontier's
    sbuckets + src list; vectors by the candidates' vbuckets + id
    list). Returns (rank int, vec_id, sim) — sims are 4-dp cosine to
    the query, ties broken by vec_id; the query itself is excluded."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters)
    visited = _beam_visited(spark, cur, query_vec_id, beam, rounds)
    top = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return spark.createDataFrame(
        [(i + 1, vid, s) for i, (vid, s) in enumerate(top)],
        "rank int, vec_id bigint, sim double",
    )


def ann_graph_recursive_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    beam: int = GRAPH_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
    hub_allpairs_max: int = 4,
) -> DataFrame:
    """Graph serving over an index whose hub mesh was built through the
    RECURSIVE cell-blocked path (``hub_allpairs_max=4`` forces the
    recursion at every test SF: the hub count is max(8, ceil(n/128)) ≥
    8 > 4, so the first hub level is meshed by sampled-Lloyd's cells
    and only the 2-hub top level is all-pairs). The serving beam is the
    unmodified ``_beam_visited`` — the recursion changes how the
    express lanes are BUILT, never how they are traversed — and the
    DuckDB twin reconstructs the recursive mesh as one more tagged
    Lloyd's-chain level (the ``knn_join_ivf_topk`` oracle one level
    up), so this key oracle-checks the exact code path the 100 TB graph
    build would take."""
    cur = build_graph_index(
        spark, sf_dir, degree, hub_degree, iters,
        hub_allpairs_max=hub_allpairs_max,
    )
    visited = _beam_visited(spark, cur, query_vec_id, beam, rounds)
    top = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return spark.createDataFrame(
        [(i + 1, vid, s) for i, (vid, s) in enumerate(top)],
        "rank int, vec_id bigint, sim double",
    )


def ann_graph_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_ids: tuple = (0, 3, 9),
    k: int = 10,
    beam: int = GRAPH_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> DataFrame:
    """Batched graph serving: M beam searches with FUSED probes — per
    round, ONE payload-carrying edges point-read for the union of all
    queries' frontiers (r17: the edge rows carry the neighbor
    embeddings, so there is no second vecs fetch; the
    ann_rp_lsh_batch_topk discipline: the reference loops
    collection.query per query; the index-served shape probes once).
    Each query's visited-set evolution is IDENTICAL to its solo
    ``ann_graph_topk`` run (per-query state, shared IO), so the batch
    equals the per-query loop row-for-row (pinned) and the solo
    oracle's unrolled CTEs serve per query. Output: (query_id, vec_id,
    sim, rank) — top-k per query."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters)
    qids = list(query_vec_ids)
    from ..memo import version_memo

    entry_rows = version_memo(
        spark,
        cur,
        "graph_entry_rows",
        lambda: (
            spark.read.schema(GRAPH_ENTRY_SCHEMA)
            .parquet(os.path.join(cur, "entry"))
            .orderBy("rk")
            .collect()
        ),
    )
    vecs_df = _comp_df(spark, cur, "vecs", VECS_SCHEMA)
    edges_df = _comp_df(spark, cur, "edges", GRAPH_EDGES_SCHEMA)

    def fetch_vecs(ids) -> dict:
        ids = sorted(ids)
        vbs = sorted({vec_bucket_py(i) for i in ids})
        with _point_reads(spark):
            rows = (
                vecs_df
                .filter(
                    F.col("vbucket").isin(vbs) & F.col("vec_id").isin(ids)
                )
                .select("vec_id", "emb")
                .collect()
            )
        return {r["vec_id"]: [float(x) for x in r["emb"]] for r in rows}

    # one fused vecs fetch for the query embeddings, then pure driver
    # math (memoized cents/cellhubs) resolves every query's seed doors
    qv = fetch_vecs(set(qids))
    qemb: dict = {}
    for qid in qids:
        if qid not in qv:
            raise ValueError(f"query vec_id {qid} not in the index")
        q = qv[qid]
        if not any(x != 0.0 for x in q):
            raise ValueError(f"zero-norm query vector {qid}: cosine undefined")
        qemb[qid] = q
    seeds: dict = {}
    for qid in qids:
        entry = next(
            (r["vec_id"] for r in entry_rows if r["vec_id"] != qid), None
        )
        if entry is None:
            raise ValueError("graph index has no usable entry hub")
        seeds[qid] = [entry] + [
            h
            for h in _seed_hubs(spark, cur, qemb[qid], exclude=qid)
            if h != entry
        ]
    first = fetch_vecs({s for ss in seeds.values() for s in ss})
    visited = {
        qid: {s: _sim4(qemb[qid], first[s]) for s in set(seeds[qid])}
        for qid in qids
    }
    frontier = {
        qid: sorted(visited[qid], key=lambda v: (-visited[qid][v], v))[:beam]
        for qid in qids
    }
    for _ in range(rounds):
        # ONE fused point read per round across all queries: the edge
        # rows carry the neighbor embedding (GRAPH_EDGES_SCHEMA doc), so
        # the union-of-frontiers adjacency fetch is also the vecs fetch
        all_srcs = sorted({s for qid in qids for s in frontier[qid]})
        sbs = sorted({vec_bucket_py(s) for s in all_srcs})
        with _point_reads(spark):
            adj_rows = (
                edges_df
                .filter(
                    F.col("sbucket").isin(sbs) & F.col("src").isin(all_srcs)
                )
                .select("src", "nbr", "nemb")
                .collect()
            )
        adj: dict = {}
        vm: dict = {}
        for r in adj_rows:
            adj.setdefault(r["src"], set()).add(r["nbr"])
            if r["nbr"] not in vm and r["nemb"] is not None:
                vm[r["nbr"]] = [float(x) for x in r["nemb"]]
        new_per_q = {
            qid: (
                {n for s in frontier[qid] for n in adj.get(s, ())}
                - set(visited[qid])
                - {qid}
            )
            for qid in qids
        }
        need = set().union(*new_per_q.values()) if qids else set()
        if not need:
            break  # every query hit its fixed point (the solo early-exit)
        for qid in qids:
            for vid in new_per_q[qid]:
                if vid in vm:
                    visited[qid][vid] = _sim4(qemb[qid], vm[vid])
            frontier[qid] = sorted(
                visited[qid], key=lambda v: (-visited[qid][v], v)
            )[:beam]
    out = []
    for qid in qids:
        top = sorted(visited[qid].items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out.extend((qid, vid, s, i + 1) for i, (vid, s) in enumerate(top))
    return spark.createDataFrame(
        out, "query_id bigint, vec_id bigint, sim double, rank int"
    )


def update_graph_index(
    spark: SparkSession,
    sf_dir: str,
    new_vecs: DataFrame,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> str:
    """Incremental INSERT into the navigable graph — the HNSW
    ``add_items`` analog under the frozen-coarse-structure discipline:
    centroids and hubs do NOT move; the
    batch assigns to existing cells in one frozen pass, links to its
    top-``degree`` same-cell neighbors (md5-capped candidates, the
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

    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters)
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
    cand_members = cap_bucket_members(
        union_members, IVF_JOIN_CELL_CAP, bucket_cols=("cluster",)
    )
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
        .filter(F.col("rk") <= degree)
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
    # labeled index (labels-dir-exists ⟺ vecs carries the label column,
    # GRAPH_VECS_SCHEMA doc): the batch's labels advance IN vecs/ too —
    # a label-less batch writes nulls, which never satisfy a predicate
    has_labels = os.path.isdir(os.path.join(cur, "labels"))
    if has_labels and "label" in new_vecs.columns:
        batch_lab = new_vecs.select(
            "vec_id", F.col("label").cast("int").alias("label")
        ).dropDuplicates(["vec_id"])
        new_vecs_rows = (
            batch.join(batch_lab, "vec_id", "left")
            .select(
                vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
                "vec_id",
                "emb",
                "label",
            )
        )
    elif has_labels:
        new_vecs_rows = batch.select(
            vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
            "vec_id",
            "emb",
            F.lit(None).cast("int").alias("label"),
        )
    else:
        new_vecs_rows = batch.select(
            vec_bucket_expr(F.col("vec_id")).alias("vbucket"), "vec_id", "emb"
        )
    # neighbor payload on the appended edge rows (GRAPH_EDGES_SCHEMA
    # doc): emb from existing vecs ∪ the batch, label matching what the
    # committed vecs/ says for that id (existing labels are frozen —
    # ADD-only inserts and tombstone deletes never change a stored
    # label, so the copy cannot go stale)
    if has_labels:
        ex_pay = (
            spark.read.schema(GRAPH_VECS_SCHEMA)
            .parquet(os.path.join(cur, "vecs"))
            .select("vec_id", "emb", "label")
        )
        if "label" in new_vecs.columns:
            b_pay = batch.join(batch_lab, "vec_id", "left").select(
                "vec_id", "emb", "label"
            )
        else:
            b_pay = batch.select(
                "vec_id", "emb", F.lit(None).cast("int").alias("label")
            )
        pay = ex_pay.unionByName(b_pay)
    else:
        pay = all_vecs.select(
            "vec_id", "emb", F.lit(None).cast("int").alias("label")
        )
    new_edges = new_edges.join(
        pay.select(
            F.col("vec_id").alias("nbr"),
            F.col("emb").alias("nemb"),
            F.col("label").alias("nlabel"),
        ),
        "nbr",
        "left",
    ).select("src", "nbr", "sim", "nemb", "nlabel", "sbucket")
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
    # the label sidecar (when this index carries one) advances with the
    # batch's labels, or rides through unchanged for label-less batches
    # (such ids simply never satisfy a label predicate)
    if os.path.isdir(os.path.join(cur, "labels")):
        if "label" in new_vecs.columns:
            lab_rows = (
                new_vecs.select(
                    "vec_id", F.col("label").cast("int").alias("label")
                )
                .dropDuplicates(["vec_id"])
                .join(batch.select("vec_id"), "vec_id")
                .select(
                    "vec_id",
                    "label",
                    vec_bucket_expr(F.col("vec_id")).alias("vbucket"),
                )
            )
            components.append(
                vn.Component("labels", ("vbucket",), frozenset(), (lab_rows,))
            )
        else:
            components.append(
                vn.Component("labels", link_from=os.path.join(cur, "labels"))
            )
    new_cur = vn.commit_version(
        spark,
        root,
        components,
        expected=os.path.basename(cur),
        compact=GRAPH_COMPONENTS,
    )
    return new_cur


def _tombstoned_among(spark: SparkSession, cur: str, ids) -> set:
    """The tombstoned subset of ``ids`` — one vbucket-pruned point read
    of ``tomb/`` (missing component = no deletes yet = empty set)."""
    tomb_path = os.path.join(cur, "tomb")
    if not ids or not os.path.isdir(tomb_path):
        return set()
    ids = sorted(set(ids))
    vbs = sorted({vec_bucket_py(i) for i in ids})
    with _point_reads(spark):
        rows = (
            _comp_df(spark, cur, "tomb", GRAPH_TOMB_SCHEMA)
            .filter(F.col("vbucket").isin(vbs) & F.col("vec_id").isin(ids))
            .select("vec_id")
            .collect()
        )
    return {r["vec_id"] for r in rows}


def delete_from_graph_index(
    spark: SparkSession,
    sf_dir: str,
    ids,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
    tag: str = "",
) -> str:
    """Mark-delete from the navigable graph — the hnswlib
    ``mark_deleted`` analog: deleted ids stay IN the graph (their
    adjacency keeps routing the beam — ripping a node out would orphan
    the regions it bridges, which is why hnswlib doesn't either) and
    are filtered only at result emission. The tombstone set is a
    versioned ``tomb/`` component (vec_id, vbucket) — vbucket-
    partitioned so serving's final filter is the same O(candidates)
    point read every other probe uses; every other component hardlinks
    through, so a delete commit writes kilobytes regardless of corpus
    size. Edge repair / physical removal is the rebuild's job, exactly
    like centroid drift (``fsck_graph_index`` reports the tombstone
    fraction and advises past 50%).

    Replay discipline (the update_graph_index contract): a batch whose
    ids are ALL already tombstoned no-ops (at-least-once streaming
    replay); a partial overlap raises (ambiguous — neither a replay nor
    a fresh delete); ids absent from the index raise."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters, tag)
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
    already = _tombstoned_among(spark, cur, ids)
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
        ]
        + (
            [vn.Component("labels", link_from=os.path.join(cur, "labels"))]
            if os.path.isdir(os.path.join(cur, "labels"))
            else []
        ),
        expected=os.path.basename(cur),
        compact=GRAPH_COMPONENTS,
    )


def ann_graph_tombstone_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    n_delete: int = 2,
    k: int = 10,
    beam: int = GRAPH_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> DataFrame:
    """Tombstone-aware graph serving: delete the query's current top-
    ``n_delete`` (forcing the k-th..k+n-th neighbors into the answer —
    the behavior a user of hnswlib's mark_deleted sees), then serve
    top-k. Traversal is untouched (``_beam_visited``: tombstoned nodes
    still route), emission filters via ONE point read of ``tomb/`` over
    the bounded visited set. Deterministic and replay-idempotent: the
    deleted set derives from the tombstone-blind search, which never
    changes, so a re-run deletes the same ids and no-ops."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters)
    visited = _beam_visited(spark, cur, query_vec_id, beam, rounds)
    ranked = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))
    to_delete = [vid for vid, _s in ranked[:n_delete]]
    cur = delete_from_graph_index(
        spark, sf_dir, to_delete, degree, hub_degree, iters
    )
    dead = _tombstoned_among(spark, cur, list(visited))
    top = [
        (vid, s)
        for vid, s in sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))
        if vid not in dead
    ][:k]
    return spark.createDataFrame(
        [(i + 1, vid, s) for i, (vid, s) in enumerate(top)],
        "rank int, vec_id bigint, sim double",
    )


def vacuum_graph_index(
    spark: SparkSession,
    sf_dir: str,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
    tag: str = "",
) -> str:
    """Physically remove tombstoned vectors — the explicit maintenance
    op mark-delete defers to (hnswlib's own answer to reclaiming dead
    nodes IS a rebuild). Vacuum = the full build pipeline over the
    SURVIVORS (the index's own ``vecs/`` minus ``tomb/`` — so vectors
    added by ``update_graph_index`` survive too), committed as the next
    version of the SAME root: equality-with-rebuild holds by
    construction (the components ARE a fresh build's, hardlinked in),
    and the version history / rollback story is preserved. Cost is the
    build's O(n) — the honest price of physical removal; that is why
    the serving path uses tombstones and fsck only ADVISES rebuild
    past 50%.

    The survivor corpus is staged under a content-addressed scratch
    dir (keyed by the tombstone set's digest), so a replayed vacuum
    reuses the staged corpus and the no-tombstones case no-ops."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters, tag)
    root = os.path.dirname(cur)
    tomb_path = os.path.join(cur, "tomb")
    if not os.path.isdir(tomb_path):
        return cur  # nothing to reclaim (also: the post-vacuum replay)
    from ..memo import index_root
    from .dedup import md5_long

    tomb = spark.read.schema(GRAPH_TOMB_SCHEMA).parquet(tomb_path)
    dig = tomb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            md5_long(F.col("vec_id").cast("string")) % F.lit(1_000_000_007)
        ).alias("s"),
    ).head()
    if not dig["n"]:
        return cur
    # keyed by the CURRENT VERSION NAME as well as the tombstone digest:
    # the digest alone is not content-addressing — a delete/vacuum/
    # re-insert/delete-the-same-ids lifecycle reaches the same digest
    # over DIFFERENT vecs content, and a digest-only key would serve
    # the first vacuum's stale staging (the rebuild_graph_index key
    # got this right from the start). Replays of one interrupted
    # vacuum still reuse: same version, same digest.
    scratch = index_root(
        "graph_vac_corpus", sf_dir, tag, degree, hub_degree, iters,
        os.path.basename(cur), int(dig["n"]), int(dig["s"]),
    )
    corpus_p = os.path.join(scratch, "embeddings.parquet")
    if not os.path.isdir(corpus_p):
        # a labeled index stays ACORN-servable across the vacuum: the
        # label column rides the scratch corpus, so the rebuilt version
        # re-derives labels/ and the labeled vecs layout
        # (GRAPH_VECS_SCHEMA doc); label-less indexes stage 2 columns
        # exactly as before
        labeled = os.path.isdir(os.path.join(cur, "labels"))
        vschema = GRAPH_VECS_SCHEMA if labeled else VECS_SCHEMA
        vcols = ["vec_id", F.col("emb").alias("embedding")] + (
            ["label"] if labeled else []
        )
        survivors = (
            spark.read.schema(vschema)
            .parquet(os.path.join(cur, "vecs"))
            .join(tomb.select("vec_id"), "vec_id", "left_anti")
            .select(*vcols)
        )
        tmp_p = corpus_p + ".__tmp__"
        survivors.write.mode("overwrite").parquet(tmp_p)
        os.makedirs(scratch, exist_ok=True)
        try:
            os.rename(tmp_p, corpus_p)
        except OSError:
            pass  # a racing vacuum staged it first; theirs is identical
    vac_ver = build_graph_index(
        spark, scratch, degree, hub_degree, iters
    )
    return _commit_reindexed(spark, root, cur, vac_ver)


def _commit_reindexed(
    spark: SparkSession, root: str, cur: str, new_ver: str
) -> str:
    """Publish a freshly built graph version (a vacuum's or rebuild's
    scratch build) as the next version of ``root``: every component
    hardlinks in, tomb/ is reclaimed, and the scratch build's OWN
    build_stats replaces the carried one (the drift baseline resets to
    the retrain)."""
    import json as _json

    extra = None
    stats_p = os.path.join(new_ver, "build_stats.json")
    if os.path.exists(stats_p):
        with open(stats_p) as f:
            extra = {"build_stats.json": f.read()}
    try:
        return vn.commit_version(
            spark,
            root,
            [
                vn.Component(name, link_from=os.path.join(new_ver, name))
                for name, _cols in GRAPH_COMPONENTS
                # tomb is reclaimed (the new version is clean); labels
                # is optional (absent on label-less corpora)
                if name != "tomb" and os.path.isdir(os.path.join(new_ver, name))
            ],
            expected=os.path.basename(cur),
            extra_files=extra,
        )
    except vn.ConcurrentWriterError:
        return vn.current_dir(root)


def rebuild_graph_index(
    spark: SparkSession,
    sf_dir: str,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
    tag: str = "",
) -> str:
    """Retrain the drifted graph — the remedy ``fsck_graph_index``'s
    coarse-drift advisory points at: the full build pipeline (sampled
    coarse quantizer, hubs, edges, bridges, reversals) re-runs over the
    index's OWN vecs store (ingested vectors included), committed as
    the next version of the same root with a fresh drift baseline.
    There is no reassign-only fast path: retrained centroids move the
    HUBS, and hub identity is woven through the entry points, star
    bridges, and the hub mesh — every edge class re-derives. Tombstones, if any, are reclaimed on the way
    (a rebuild subsumes a vacuum). Scratch corpus content-addressed by
    the current version name, so replays reuse the staging."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters, tag)
    root = os.path.dirname(cur)
    from ..memo import index_root

    scratch = index_root(
        "graph_rebuild_corpus", sf_dir, tag, degree, hub_degree, iters,
        os.path.basename(cur),
    )
    corpus_p = os.path.join(scratch, "embeddings.parquet")
    if not os.path.isdir(corpus_p):
        # labels ride the scratch corpus exactly like the vacuum's
        # staging (see vacuum_graph_index) — a labeled index rebuilds
        # into a labeled index
        labeled = os.path.isdir(os.path.join(cur, "labels"))
        vecs = spark.read.schema(
            GRAPH_VECS_SCHEMA if labeled else VECS_SCHEMA
        ).parquet(os.path.join(cur, "vecs"))
        tomb_path = os.path.join(cur, "tomb")
        if os.path.isdir(tomb_path):
            tomb = spark.read.schema(GRAPH_TOMB_SCHEMA).parquet(tomb_path)
            vecs = vecs.join(tomb.select("vec_id"), "vec_id", "left_anti")
        tmp_p = corpus_p + ".__tmp__"
        vcols = ["vec_id", F.col("emb").alias("embedding")] + (
            ["label"] if labeled else []
        )
        vecs.select(*vcols).write.mode("overwrite").parquet(tmp_p)
        os.makedirs(scratch, exist_ok=True)
        try:
            os.rename(tmp_p, corpus_p)
        except OSError:
            pass  # a racing stager won; theirs is identical
    new_ver = build_graph_index(spark, scratch, degree, hub_degree, iters)
    return _commit_reindexed(spark, root, cur, new_ver)


def ann_graph_vacuumed_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    n_delete: int = 2,
    k: int = 10,
    beam: int = GRAPH_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> DataFrame:
    """The full delete lifecycle end-to-end on its OWN tagged root
    (never shared with the tombstone-blind serving keys — their replays
    must not observe this key's mutations): mark-delete the query's
    exact-cosine top-``n_delete`` (corpus-derived, so the target state
    is a pure function of the corpus), vacuum, then beam-search the
    REBUILT graph. Unlike the tombstone key (same visited set, filtered
    emission), vacuum changes the graph itself — the sampled quantizer,
    hubs, and edges are re-derived over the survivors — so the oracle
    runs the whole construction chain over ``embeddings`` minus the
    deleted set. Replay: the deleted ids are gone from the vacuumed
    index, which IS the target state — detected and served directly."""
    tag = "vac"
    from .knn import knn_topk, make_query_from_vec

    emb = load_table(spark, sf_dir, "embeddings")
    del_ids = [
        r["vec_id"]
        for r in knn_topk(
            emb, make_query_from_vec(emb, query_vec_id), k=n_delete
        ).collect()
    ]
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters, tag)
    vbs = sorted({vec_bucket_py(i) for i in del_ids})
    with _point_reads(spark):
        present = (
            _comp_df(spark, cur, "vecs", VECS_SCHEMA)
            .filter(
                F.col("vbucket").isin(vbs) & F.col("vec_id").isin(del_ids)
            )
            .count()
        )
    if present == len(del_ids):
        delete_from_graph_index(
            spark, sf_dir, del_ids, degree, hub_degree, iters, tag
        )
        cur = vacuum_graph_index(
            spark, sf_dir, degree, hub_degree, iters, tag
        )
    elif present:
        raise ValueError(
            f"vacuumed root in a mixed state: {present}/{len(del_ids)} "
            f"of the delete set still indexed"
        )
    else:
        pass  # already vacuumed (replay): the root IS the target state
    visited = _beam_visited(spark, cur, query_vec_id, beam, rounds)
    top = sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return spark.createDataFrame(
        [(i + 1, vid, s) for i, (vid, s) in enumerate(top)],
        "rank int, vec_id bigint, sim double",
    )


def ann_graph_filtered_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    beam: int = GRAPH_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> DataFrame:
    """Metadata-filtered graph serving — the shape Chroma's
    ``query(where=...)`` takes against its HNSW backend (and hnswlib's
    own filter functor): traversal is predicate-BLIND (restricting the
    walk to matching nodes would disconnect the graph exactly like
    ripping tombstones out would), the predicate applies at result
    emission. Here the predicate is same-label-as-the-query over the
    corpus ``label`` column, resolved by ONE bounded point read of the
    visited ids (at 100 TB the label would ride the index like the
    Collection facade's meta sidecar; the corpus read here is
    vec_id-pushdown over the bounded visited set). May return fewer
    than k rows when the visited pool holds fewer matches — the
    honest behavior hnswlib documents for aggressive filters (raise
    ``beam``/``rounds`` to widen the pool)."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters)
    visited = _beam_visited(spark, cur, query_vec_id, beam, rounds)
    emb = load_table(spark, sf_dir, "embeddings")
    ids = sorted({query_vec_id, *visited})
    lab_rows = (
        emb.filter(F.col("vec_id").isin(ids))
        .select("vec_id", "label")
        .collect()
    )
    label_of = {r["vec_id"]: r["label"] for r in lab_rows}
    want = label_of[query_vec_id]
    top = [
        (vid, s)
        for vid, s in sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))
        if label_of.get(vid) == want
    ][:k]
    return spark.createDataFrame(
        [(i + 1, vid, s) for i, (vid, s) in enumerate(top)],
        "rank int, vec_id bigint, sim double",
    )


def _beam_visited_acorn(
    spark: SparkSession,
    cur: str,
    query_vec_id: int,
    beam: int,
    rounds: int,
    fetch_scored,
    want_state: dict,
) -> "tuple[dict, set]":
    """ACORN-style predicate-aware beam (VERDICT r12 next #4, after
    ACORN, SIGMOD'24): the emission-filtered blind beam collapses on
    selective predicates (BASELINE.md r12b: recall 0.15 at 10%
    selectivity on the mild fixture) because the visited pool fills
    with high-sim FAILING nodes. This variant searches the subgraph
    induced on PASSING nodes while keeping failing nodes as BRIDGES:

    - frontier: the top-``beam`` visited nodes with passing nodes
      ranked FIRST (fail-visited fill the remainder only when passing
      nodes are scarce — early rounds);
    - expansion: the frontier's neighbors (hop 1), PLUS the neighbors
      of hop-1's FAILING members (hop 2 — ACORN-1's
      neighbors-of-neighbors rule, which restores the reachability the
      induced subgraph loses when a bridge fails the predicate);
    - the predicate rides the edge rows: hop candidates arrive with
      their embedding AND label on the adjacency read itself
      (GRAPH_EDGES_SCHEMA nemb/nlabel, r17), so each round is TWO
      fused point reads (hop-1 edges, hop-2 edges) — r13 had six
      (separate pass lookups), r16 four (scored fetch per hop).
      ``fetch_scored(ids) -> {id: (emb, passes)}`` still resolves the
      query and seed rows (and the query's own label, the lazy-want
      contract); the traversal's structure (edges, sims, tie-breaks)
      stays untouched.

    Per-round state stays bounded: ≤ beam + beam·degree expansion
    sources, ≤ beam·degree² new candidates — corpus-size-independent
    like the blind beam, at ~2× its point reads (the documented cost
    of the opt-in). Returns (visited {vec_id: 4-dp sim}, passing ids
    among visited); emission takes top-k of the passing subset."""
    from ..memo import version_memo

    entry_rows = version_memo(
        spark,
        cur,
        "graph_entry_rows",
        lambda: (
            spark.read.schema(GRAPH_ENTRY_SCHEMA)
            .parquet(os.path.join(cur, "entry"))
            .orderBy("rk")
            .collect()
        ),
    )
    entry = next(
        (r["vec_id"] for r in entry_rows if r["vec_id"] != query_vec_id), None
    )
    if entry is None:
        raise ValueError("graph index has no usable entry hub")
    edges_df = _comp_df(spark, cur, "edges", GRAPH_EDGES_SCHEMA)

    def fetch_nbr_scored(srcs) -> dict:
        """{nbr: (emb, label)} over the srcs' out-edges — ONE fused
        adjacency+payload+predicate point read (r17: the edge rows
        carry the neighbor's embedding and label, GRAPH_EDGES_SCHEMA
        doc); was an edges read followed by a scored vecs fetch. A
        null-payload (dangling) edge drops out exactly like the old
        vecs fetch returned nothing for it."""
        if not srcs:
            return {}
        sbs = sorted({vec_bucket_py(i) for i in srcs})
        with _point_reads(spark):
            rows = (
                edges_df
                .filter(
                    F.col("sbucket").isin(sbs)
                    & F.col("src").isin(sorted(srcs))
                )
                .select("nbr", "nemb", "nlabel")
                .collect()
            )
        out: dict = {}
        for r in rows:
            if r["nbr"] not in out and r["nemb"] is not None:
                out[r["nbr"]] = (
                    [float(x) for x in r["nemb"]], r["nlabel"]
                )
        return out

    qv = fetch_scored({query_vec_id})
    if query_vec_id not in qv:
        raise ValueError(f"query vec_id {query_vec_id} not in the index")
    q = qv[query_vec_id][0]
    if not any(x != 0.0 for x in q):
        raise ValueError("zero-norm query vector: cosine undefined")
    # the query's own label — resolved by the first fetch_scored call
    # (the _index_scored_fetcher lazy-want contract); edge-carried
    # labels below apply the same pass rule (null never passes)
    want = want_state["want"]
    # same multi-cell doors as the blind kernel (module constants doc);
    # the predicate-aware frontier rule below is unchanged
    seeds = [entry] + [
        h
        for h in _seed_hubs(spark, cur, q, exclude=query_vec_id)
        if h != entry
    ]
    first = fetch_scored(set(seeds))
    visited = {s: _sim4(q, first[s][0]) for s in set(seeds)}
    passing: set = {s for s in set(seeds) if first[s][1]}
    for _ in range(rounds):
        ranked = sorted(
            visited, key=lambda v: (v not in passing, -visited[v], v)
        )
        frontier = ranked[:beam]
        pay1 = fetch_nbr_scored(frontier)
        new1 = set(pay1) - {query_vec_id} - set(visited)
        got1 = {
            i: (pay1[i][0], pay1[i][1] is not None and pay1[i][1] == want)
            for i in new1
        }
        # hop 2 through hop-1's FAILING members (new this round — an
        # already-visited failing node either was a frontier once or
        # will be via the fill rule). Only FETCHED ids can fail: an
        # edge pointing at a missing vector (impossible on an fsck'd
        # index) drops out here exactly like the oracle's join drops it
        fail1 = {i for i, (_e, ok) in got1.items() if not ok}
        pay2 = fetch_nbr_scored(fail1)
        new2 = set(pay2) - set(visited) - new1 - {query_vec_id}
        got2 = {
            i: (pay2[i][0], pay2[i][1] is not None and pay2[i][1] == want)
            for i in new2
        }
        if not new1 and not new2:
            break
        for vid, (e, ok) in {**got1, **got2}.items():
            visited[vid] = _sim4(q, e)
            if ok:
                passing.add(vid)
    return visited, passing


def _index_scored_fetcher(spark: SparkSession, cur: str, query_vec_id: int):
    """INDEX-SERVED scored fetch for the corpus ACORN keys (VERDICT r13
    next #5 — was vec_id pushdown over the raw single-file embeddings
    parquet; VERDICT r14 next #1 — was a per-fetch vecs ⋈ labels join of
    two pruned scans): ONE action over the vbucket-PRUNED vecs component,
    which on a labeled corpus carries the label as a nullable column
    (GRAPH_VECS_SCHEMA — written at build, advanced by the insert path).
    A fetched id with a null label scores but never passes (a label-less
    streamed insert cannot match a label predicate). The labels/ sidecar
    remains the servability gate and the facade-meta-discipline
    component. Returns (fetch_scored, lazy-want state dict)."""
    labels_path = os.path.join(cur, "labels")
    if not os.path.isdir(labels_path):
        raise ValueError(
            "graph index has no labels component (label-less corpus): "
            "the same-label ACORN predicate is unservable"
        )
    vecs_df = _comp_df(spark, cur, "vecs", GRAPH_VECS_SCHEMA)
    # the query's label resolves LAZILY from the kernel's first fetch
    # (which is always fetch_scored({query_vec_id})) — no separate
    # point-read job for it
    state: dict = {"want": None}

    def fetch_scored(ids) -> dict:
        ids = sorted(ids)
        if not ids:
            return {}
        vbs = sorted({vec_bucket_py(i) for i in ids})
        with _point_reads(spark):
            got = {
                r["vec_id"]: ([float(x) for x in r["emb"]], r["label"])
                for r in vecs_df
                .filter(
                    F.col("vbucket").isin(vbs) & F.col("vec_id").isin(ids)
                )
                .select("vec_id", "emb", "label")
                .collect()
            }
        if state["want"] is None:
            if query_vec_id not in got:
                raise ValueError(
                    f"query vec_id {query_vec_id} not in the index"
                )
            if got[query_vec_id][1] is None:
                raise ValueError(
                    f"query vec_id {query_vec_id} has no label row"
                )
            state["want"] = got[query_vec_id][1]
        w = state["want"]
        return {
            i: (e, lb is not None and lb == w) for i, (e, lb) in got.items()
        }

    return fetch_scored, state


def ann_graph_acorn_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    beam: int = GRAPH_ACORN_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> DataFrame:
    """Predicate-aware filtered graph serving (the opt-in counterpart
    of ``ann_graph_filtered_topk``'s emission-only filter): same
    same-label-as-the-query predicate, served by the ACORN beam — the
    predicate steers the FRONTIER and failing neighbors get a
    second-hop expansion, so selective filters keep recall instead of
    thinning the pool. The default filtered key is untouched (the r11
    opt-in lesson)."""
    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters)
    fetch_scored, state = _index_scored_fetcher(spark, cur, query_vec_id)
    visited, passing = _beam_visited_acorn(
        spark, cur, query_vec_id, beam, rounds, fetch_scored, state
    )
    top = [
        (vid, s)
        for vid, s in sorted(visited.items(), key=lambda kv: (-kv[1], kv[0]))
        if vid in passing
    ][:k]
    return spark.createDataFrame(
        [(i + 1, vid, s) for i, (vid, s) in enumerate(top)],
        "rank int, vec_id bigint, sim double",
    )


def ann_graph_acorn_batch_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_ids: tuple = (0, 3, 9),
    k: int = 10,
    beam: int = GRAPH_ACORN_BEAM,
    rounds: int = GRAPH_ROUNDS,
    degree: int = GRAPH_DEGREE,
    hub_degree: int = GRAPH_HUB_DEGREE,
    iters: int = 2,
) -> DataFrame:
    """Batched ACORN serving — M predicate-aware beams with FUSED IO
    (the ann_graph_batch_topk discipline applied to the acorn loop):
    per round, ONE payload-carrying edges read for the union of
    frontiers and ONE for the union of failing hop-1 members (r17: the
    edge rows carry neighbor embedding + label, so the two per-hop
    scored vecs fetches are gone). The predicate is per-query
    (same-label-as-THAT-query), so
    pass sets are per-query over the SHARED label cache; per-query
    visited/passing evolution is identical to the solo
    ``ann_graph_acorn_topk`` run (batch == solo, pinned; the solo
    oracle's pass-flagged chain serves per query). Output:
    (query_id, vec_id, sim, rank) — top-k passing per query."""
    from ..memo import version_memo

    cur = build_graph_index(spark, sf_dir, degree, hub_degree, iters)
    qids = list(query_vec_ids)
    entry_rows = version_memo(
        spark,
        cur,
        "graph_entry_rows",
        lambda: (
            spark.read.schema(GRAPH_ENTRY_SCHEMA)
            .parquet(os.path.join(cur, "entry"))
            .orderBy("rk")
            .collect()
        ),
    )
    labels_path = os.path.join(cur, "labels")
    if not os.path.isdir(labels_path):
        raise ValueError(
            "graph index has no labels component (label-less corpus): "
            "the same-label ACORN predicate is unservable"
        )
    edges_df = _comp_df(spark, cur, "edges", GRAPH_EDGES_SCHEMA)
    vecs_df = _comp_df(spark, cur, "vecs", GRAPH_VECS_SCHEMA)
    cache: dict = {}  # id -> (emb, label), shared across queries/rounds

    def fetch(ids) -> None:
        # index-served: ONE action, one vbucket-PRUNED scan of the
        # label-carrying vecs component (_index_scored_fetcher doc) —
        # a null label scores but never passes
        ids = sorted(set(ids) - set(cache))
        if not ids:
            return
        vbs = sorted({vec_bucket_py(i) for i in ids})
        with _point_reads(spark):
            rows = (
                vecs_df
                .filter(
                    F.col("vbucket").isin(vbs) & F.col("vec_id").isin(ids)
                )
                .select("vec_id", "emb", "label")
                .collect()
            )
        for r in rows:
            cache[r["vec_id"]] = ([float(x) for x in r["emb"]], r["label"])

    def fetch_nbrs(srcs) -> dict:
        """Fused adjacency + payload read (r17): one pruned edges scan
        returns the neighbor set AND fills the shared (emb, label)
        cache from the edge-carried payload — the per-hop vecs fetch
        is gone (GRAPH_EDGES_SCHEMA doc)."""
        srcs = sorted(srcs)
        if not srcs:
            return {}
        sbs = sorted({vec_bucket_py(s) for s in srcs})
        adj: dict = {}
        with _point_reads(spark):
            rows = (
                edges_df
                .filter(F.col("sbucket").isin(sbs) & F.col("src").isin(srcs))
                .select("src", "nbr", "nemb", "nlabel")
                .collect()
            )
        for r in rows:
            adj.setdefault(r["src"], set()).add(r["nbr"])
            if r["nbr"] not in cache and r["nemb"] is not None:
                cache[r["nbr"]] = (
                    [float(x) for x in r["nemb"]], r["nlabel"]
                )
        return adj

    # one fused fetch for the query rows, then driver-math seed doors
    # (memoized cents/cellhubs — the blind batch's discipline)
    fetch(set(qids))
    want, qemb = {}, {}
    for qid in qids:
        if qid not in cache:
            raise ValueError(f"query vec_id {qid} not in the index")
        q, lab = cache[qid]
        if not any(x != 0.0 for x in q):
            raise ValueError(f"zero-norm query vector {qid}: cosine undefined")
        qemb[qid], want[qid] = q, lab
    seeds: dict = {}
    for qid in qids:
        entry = next(
            (r["vec_id"] for r in entry_rows if r["vec_id"] != qid), None
        )
        if entry is None:
            raise ValueError("graph index has no usable entry hub")
        seeds[qid] = [entry] + [
            h
            for h in _seed_hubs(spark, cur, qemb[qid], exclude=qid)
            if h != entry
        ]
    fetch({s for ss in seeds.values() for s in ss})
    visited = {
        qid: {s: _sim4(qemb[qid], cache[s][0]) for s in set(seeds[qid])}
        for qid in qids
    }
    passing = {
        qid: {s for s in set(seeds[qid]) if cache[s][1] == want[qid]}
        for qid in qids
    }
    for _ in range(rounds):
        frontier = {
            qid: sorted(
                visited[qid],
                key=lambda v: (v not in passing[qid], -visited[qid][v], v),
            )[:beam]
            for qid in qids
        }
        # two fused point reads per round (hop-1 edges, hop-2 edges) —
        # the edge payload fills the cache, so the old per-hop fetch()
        # vecs jobs are gone (r16: four jobs/round, r17: two)
        adj = fetch_nbrs({s for qid in qids for s in frontier[qid]})
        new1 = {
            qid: {n for s in frontier[qid] for n in adj.get(s, ())}
            - set(visited[qid])
            - {qid}
            for qid in qids
        }
        fail1 = {
            qid: {i for i in new1[qid] if i in cache and cache[i][1] != want[qid]}
            for qid in qids
        }
        adj2 = fetch_nbrs(set().union(*fail1.values()))
        new2 = {
            qid: {n for s in fail1[qid] for n in adj2.get(s, ())}
            - set(visited[qid])
            - new1[qid]
            - {qid}
            for qid in qids
        }
        if not any(new1[qid] | new2[qid] for qid in qids):
            break
        for qid in qids:
            for vid in new1[qid] | new2[qid]:
                if vid in cache:
                    visited[qid][vid] = _sim4(qemb[qid], cache[vid][0])
                    if cache[vid][1] == want[qid]:
                        passing[qid].add(vid)
    rows = []
    for qid in qids:
        top = [
            (vid, s)
            for vid, s in sorted(
                visited[qid].items(), key=lambda kv: (-kv[1], kv[0])
            )
            if vid in passing[qid]
        ][:k]
        rows += [(qid, vid, s, i + 1) for i, (vid, s) in enumerate(top)]
    return spark.createDataFrame(
        rows, "query_id bigint, vec_id bigint, sim double, rank int"
    )


def fsck_graph_index(spark: SparkSession, sf_dir: str, **params) -> list:
    """Graph-index integrity: the generic versioned-root checks plus
    the graph's own invariants — every edge endpoint has a vector,
    no self-loops, out-degree ≤ degree + hub_degree, entry hubs exist
    as sources. Resolves (building if absent) like the other index
    fscks. Returns (check, ok, detail); never raises."""
    build_graph_index(spark, sf_dir, **params)
    root = graph_index_root(sf_dir, **params)
    pre = vn.current_dir(root)
    labeled = pre is not None and os.path.isdir(os.path.join(pre, "labels"))
    comp_list = [
        ("edges", ["sbucket"], GRAPH_EDGES_SCHEMA),
        ("entry", [], GRAPH_ENTRY_SCHEMA),
        ("hubmap", ["vbucket"], GRAPH_HUBMAP_SCHEMA),
        ("cellhubs", [], GRAPH_CELLHUBS_SCHEMA),
        # labeled index: vecs carries the label column in lockstep with
        # the labels sidecar (GRAPH_VECS_SCHEMA doc)
        ("vecs", ["vbucket"], GRAPH_VECS_SCHEMA if labeled else VECS_SCHEMA),
        ("assign", ["cluster"], IVF_ASSIGN_SCHEMA),
        ("cents", [], "cluster int, c array<double>"),
    ]
    if labeled:
        comp_list.append(("labels", ["vbucket"], GRAPH_LABELS_SCHEMA))
    out = vn.fsck_index(spark, root, comp_list)
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
        params.get("degree", GRAPH_DEGREE)
        + params.get("hub_degree", GRAPH_HUB_DEGREE)
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
    if os.path.isdir(os.path.join(cur, "labels")):
        # the lockstep invariant the single-scan scored fetch relies on
        # (GRAPH_VECS_SCHEMA doc): vecs' folded label ≡ the labels
        # sidecar, null-safe both ways
        lvec = spark.read.schema(GRAPH_VECS_SCHEMA).parquet(
            os.path.join(cur, "vecs")
        )
        lab = spark.read.schema(GRAPH_LABELS_SCHEMA).parquet(
            os.path.join(cur, "labels")
        )
        div = (
            lvec.select("vec_id", "label")
            .join(
                lab.select("vec_id", F.col("label").alias("slab")),
                "vec_id",
                "left",
            )
            .filter(~F.col("label").eqNullSafe(F.col("slab")))
            .count()
        )
        out.append(
            ("vecs_label_matches_sidecar", div == 0, f"diverged={div}")
        )
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
    labels_p = os.path.join(cur, "labels")
    if os.path.isdir(labels_p):
        lab = spark.read.schema(GRAPH_LABELS_SCHEMA).parquet(labels_p)
        dangling_lab = lab.join(
            vecs.select("vec_id"), "vec_id", "left_anti"
        ).count()
        out.append(
            ("label_rows_have_vectors", dangling_lab == 0,
             f"dangling={dangling_lab}")
        )
        dup_lab = (
            lab.groupBy("vec_id").count().filter(F.col("count") > 1).count()
        )
        out.append(
            ("one_label_per_vector", dup_lab == 0, f"dup={dup_lab}")
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
    # is decaying — rebuild_graph_index
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
                + (" — run rebuild_graph_index" if drifted else ""),
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
